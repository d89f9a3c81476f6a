"""User-facing engine facade — pkg2's programmatic surface, Spark-native.

pkg2 exposed a programmatic query/search API over normalized package records
ingested from per-distribution repository indexes (SURVEY.md §1.1 [Tier C]).
This facade reproduces that surface:

    eng = Engine()                       # or Engine(existing_spark)
    pkgs = eng.ingest_apkindex(path)     # normalized package table
    pkgs = eng.ingest_debian_packages(path)
    eng.search_packages("open%")         # name search
    eng.whatprovides("so:libz.so.1")     # provides -> provider lookup
    eng.resolve("python3")               # dependency closure (BFS)
    eng.latest_versions()                # top-1 per package, version-ordered
    eng.sql("SELECT ...")                # full Spark SQL over registered tables
    eng.table("lineitem")                # driver tables by name

Everything returns DataFrames — lazily planned, Catalyst-optimized; nothing
here collects. Ingested package tables are ordinary tables: at 100 TB the
same code runs over a directory of index files instead of one sample.

Ingest is the one place an index is parsed. The parsed table is
checkpointed (filled by the first action over it) and owns, for as long as
it is the engine's current index, the frames every lookup derives from it:
the capability map, the dependency edges, the constrained edges and the
latest versions. Each is built on first use and kept in Spark's block
manager, so a request runs only its own filter; resolve's driver-side
adjacency of a bounded edge set is kept the same way, next to its edges.
A re-ingest replaces all of them at once (_IndexState).
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from pkg2_spark.catalog import load_tables
from pkg2_spark.operators.graph_ops import CountedEdges, reachability
from pkg2_spark.session import (
    BuildOnce,
    ensure_runtime_confs,
    get_session,
    truncate_lineage_counted,
    truncate_lineage_lazy,
)

#: portable numeric-aware version sort key: every integer run, zero-padded.
#: '1.36.1-r2' -> '000001.000036.000001.000002' — lexicographic order ==
#: component-wise numeric order (same expression exists in DuckDB for
#: oracle parity: array_to_string(list_transform(regexp_extract_all(...)))).
def version_key(col) -> F.Column:
    return F.array_join(
        F.transform(
            F.regexp_extract_all(col, F.lit("[0-9]+"), 0),
            lambda x: F.lpad(x, 6, "0"),
        ),
        ".",
    )


def capability_map(packages: DataFrame) -> DataFrame:
    """Capability -> provider map: one (provider, version, arch, capability)
    row per capability a package provides — its own name, and each provides
    entry with its version suffix cut ('so:libz.so.1=1.3' -> 'so:libz.so.1').
    The one definition behind whatprovides, whatdepends, resolve,
    q_pkg_provides, q_pkg_revdeps and q_pkg_blast_radius."""
    return packages.select(
        F.col("name").alias("provider"),
        "version",
        "arch",
        F.explode(
            F.array_union(
                F.array(F.col("name")),
                F.transform(F.col("provides"), lambda x: F.split_part(x, F.lit("="), F.lit(1))),
            )
        ).alias("capability"),
    )


def _latest_versions(packages: DataFrame) -> DataFrame:
    w = Window.partitionBy("name").orderBy(
        version_key(F.col("version")).desc_nulls_last(),
        F.col("arch").asc_nulls_last(),
    )
    return (
        packages.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def _depends_atoms(packages: DataFrame) -> DataFrame:
    if "depends_raw" not in packages.columns:
        raise ValueError("ingested index did not preserve raw depends atoms")
    atoms = packages.select(
        F.col("name").alias("src_name"),
        F.col("version").alias("src_version"),
        F.explode("depends_raw").alias("atom"),
    )
    # apk inline form first: name stops at the first comparator char
    # (apk names may contain ':' and '.', e.g. so:libssl.so.3, but
    # never comparator characters).
    apk_op = F.regexp_extract("atom", r"^[^<>=\s(]+([<>=]+)", 1)
    is_apk = apk_op != ""
    deb_op = F.regexp_extract("atom", r"\(\s*([<>=]+)\s*", 1)
    # dpkg legacy: bare > / < written in Debian syntax mean >= / <=
    # (apk's bare comparators stay strict on the is_apk branch).
    deb_op = (
        F.when(deb_op == ">", F.lit(">="))
        .when(deb_op == "<", F.lit("<="))
        .otherwise(deb_op)
    )
    return atoms.select(
        "src_name",
        "src_version",
        F.when(is_apk, F.regexp_extract("atom", r"^([^<>=\s(]+)", 1))
        .otherwise(F.trim(F.split_part(F.col("atom"), F.lit("("), F.lit(1))))
        .alias("dep_name"),
        F.when(is_apk, apk_op).otherwise(deb_op).alias("op"),
        F.when(is_apk, F.regexp_extract("atom", r"^[^<>=\s(]+[<>=]+(.+)$", 1))
        .otherwise(
            F.trim(F.regexp_extract("atom", r"\(\s*[<>=]+\s*([^)]+)\)", 1))
        )
        .alias("dver"),
    )


def _constrained_edges(packages: DataFrame) -> DataFrame:
    atoms = _depends_atoms(packages)
    prov = packages.select(
        F.col("name").alias("dep_name"), F.col("version").alias("dst_version")
    ).distinct()
    pk = version_key(F.col("dst_version"))
    ak = version_key(F.col("dver"))
    sat = (
        (F.col("op") == "")
        | ((F.col("op") == ">=") & (pk >= ak))
        | ((F.col("op") == "<=") & (pk <= ak))
        | ((F.col("op") == "=") & (pk == ak))
        | ((F.col("op") == ">>") & (pk > ak))
        | ((F.col("op") == "<<") & (pk < ak))
        | ((F.col("op") == ">") & (pk > ak))
        | ((F.col("op") == "<") & (pk < ak))
    )
    return (
        atoms.join(prov, "dep_name")
        .filter(sat)
        .select(
            "src_name",
            "src_version",
            F.col("dep_name").alias("dst_name"),
            "dst_version",
        )
        .distinct()
    )


class _IndexState:
    """One ingest's serving state: the parsed package frame, plus the
    frames derived from it that no request parameter changes, each built
    on first use. Every frame is checkpointed with the truncate_lineage*
    helpers, so its rows sit in Spark's block manager and a request runs
    only its own filter over them.

    The one Python-side row copy is the adjacency of each counted edge set
    (package_edges, constrained_edges), kept in its graph_ops.CountedEdges
    record: a dict of the distinct edges, collected by the first resolve
    that finishes on the driver and read by every later one. It exists
    only for an edge set of at most graph_ops.LOCAL_FINISH_EDGES rows (a
    few MB); a larger set is resolved in distributed rounds and never
    copied.

    An ingest replaces the whole object, adjacencies included. Once
    nothing references the old one, Spark's ContextCleaner releases its
    blocks. Concurrent first requests build each frame and each adjacency
    once (session.BuildOnce)."""

    def __init__(self, packages: DataFrame):
        self.packages = packages
        self._frames = BuildOnce()

    def capabilities(self) -> DataFrame:
        return self._frames.get(
            "capabilities", lambda: truncate_lineage_lazy(capability_map(self.packages))
        )

    def _provider_join(self) -> DataFrame:
        """(src, capability, dst) rows: src depends on capability, dst
        provides it. Not distinct."""
        deps = self.packages.select(
            F.col("name").alias("src"), F.explode("depends").alias("capability")
        )
        providers = (
            self.capabilities()
            .select("capability", F.col("provider").alias("dst"))
            .distinct()
        )
        return deps.join(providers, "capability")

    def dependency_edges(self) -> DataFrame:
        """Distinct (src, capability, dst) — whatdepends filters on dst."""
        return self._frames.get(
            "dependency_edges",
            lambda: truncate_lineage_lazy(
                self._provider_join().select("src", "capability", "dst").distinct()
            ),
        )

    def package_edges(self) -> CountedEdges:
        """Distinct (src, dst) edges with their count, which gates resolve's
        driver-local finish (graph_ops.reachability), and the adjacency
        that finish keeps."""
        return self._frames.get(
            "package_edges",
            lambda: CountedEdges(*truncate_lineage_counted(
                self._provider_join().select("src", "dst").distinct()
            )),
        )

    def constrained_edges(self) -> CountedEdges:
        return self._frames.get(
            "constrained_edges",
            lambda: CountedEdges(
                *truncate_lineage_counted(_constrained_edges(self.packages))
            ),
        )

    def latest_versions(self) -> DataFrame:
        return self._frames.get(
            "latest_versions",
            lambda: truncate_lineage_lazy(_latest_versions(self.packages)),
        )


# Sentinel distinguishing "caller said nothing" (audit at the engine's
# ann_min_recall bar) from an explicit min_recall=None opt-out.
_AUDIT_DEFAULT = object()


class Engine:
    def __init__(self, spark: SparkSession | None = None, sf_dir: str | None = None):
        self.spark = ensure_runtime_confs(spark) if spark else get_session()
        self._index: _IndexState | None = None
        # The ANN recall/latency knob: how many final IVF slot-cells
        # ann_search scans per query (own cell + n_probe-1 beam cells).
        # 3 is the served default (q_llm_ann_mprobe's registered shape);
        # SCALING.md's recall table is the tuning guide.
        self.ann_n_probe: int = 3
        # The ANN safety bar: ann_search audits recall@k on bounded
        # self-probes BY DEFAULT and refuses to serve an index that
        # misses this bar (falls back to exact knn_bruteforce / raises,
        # per on_low_recall) — the r11 verdict's #1: an unaudited IVF
        # index silently serves 0.16-recall results on isotropic
        # corpora. Set to None (or pass min_recall=None per call) to
        # skip the audit and always serve the IVF path.
        self.ann_min_recall: float | None = 0.8
        # Beam widths ann_search tries (fallback mode only) before
        # conceding to exact brute force when the audit misses the bar —
        # the memoized IVF tree makes each step only extra candidate-cell
        # rows, while the concession is a full O(n) scan per probe
        # (r12 verdict #2). Set to () for latency-bound callers who want
        # the old straight-to-exact behavior.
        self.ann_escalation_ladder: tuple[int, ...] = (8, 16, 32)
        if sf_dir:
            self.load_tables(sf_dir)

    # ------------------------------------------------------------- catalog
    def load_tables(self, sf_dir: str) -> dict[str, DataFrame]:
        return load_tables(self.spark, sf_dir)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        return self.spark.sql(query)

    def register(self, name: str, df: DataFrame) -> None:
        df.createOrReplaceTempView(name)

    # ------------------------------------------------------------- ingest
    def _ingest(self, parsed: DataFrame) -> DataFrame:
        """The one end of every ingest_* method, and so the one place an
        index is parsed. The parsed frame is checkpointed lazily: the first
        action over it fills it once, and every later query reads those
        blocks instead of re-reading and re-parsing the file. Its
        distro-less projection is registered as the `packages` view and
        becomes a new _IndexState, which replaces the previous ingest's
        package frame and everything derived from it in one assignment.
        Returns the checkpointed frame."""
        parsed = truncate_lineage_lazy(parsed)
        packages = parsed.drop("distro")
        self.register("packages", packages)
        self._index = _IndexState(packages)
        return parsed

    def _stanzas(self, path: str) -> DataFrame:
        raw = self.spark.read.text(path, wholetext=True)
        return self._explode_stanzas(raw.select(F.col("value").alias("text")))

    @staticmethod
    def _explode_stanzas(texts: DataFrame) -> DataFrame:
        """Whole-index text column -> one row per blank-line stanza."""
        return (
            texts.select(F.explode(F.split("text", "\n\n")).alias("stanza"))
            .filter(F.trim("stanza") != "")
        )

    @staticmethod
    def _apk_project(s: DataFrame) -> DataFrame:
        split_tokens = lambda c: F.array_sort(  # noqa: E731
            F.filter(F.split(c, " "), lambda x: x != "")
        )
        return s.select(
            F.regexp_extract("stanza", r"P:([^\n]+)", 1).alias("name"),
            F.regexp_extract("stanza", r"V:([^\n]+)", 1).alias("version"),
            F.regexp_extract("stanza", r"A:([^\n]+)", 1).alias("arch"),
            F.regexp_extract("stanza", r"S:([0-9]+)", 1).cast("long").alias("size"),
            F.regexp_extract("stanza", r"T:([^\n]+)", 1).alias("description"),
            split_tokens(F.regexp_extract("stanza", r"\nD:([^\n]+)", 1)).alias("depends"),
            split_tokens(F.regexp_extract("stanza", r"\np:([^\n]+)", 1)).alias("provides"),
            # APK depends tokens are already raw atoms (constraints inline,
            # 'name>=ver'); mirrored under the shared depends_raw name.
            split_tokens(F.regexp_extract("stanza", r"\nD:([^\n]+)", 1)).alias("depends_raw"),
        )

    @staticmethod
    def _deb_project(s: DataFrame) -> DataFrame:
        deps_raw = F.regexp_extract("stanza", r"Depends: ([^\n]+)", 1)
        deps = F.array_sort(
            F.filter(
                F.transform(
                    F.split(deps_raw, ", "),
                    lambda d: F.trim(F.regexp_replace(d, r"\s*\([^)]*\)", "")),
                ),
                lambda x: x != "",
            )
        )
        # Constraint-bearing atoms ('libc6 (>= 2.34)') survive alongside
        # the bare-name list: resolve_constrained consumes these.
        atoms = F.filter(F.transform(F.split(deps_raw, ", "), F.trim), lambda x: x != "")
        return s.select(
            F.regexp_extract("stanza", r"Package: ([^\n]+)", 1).alias("name"),
            F.regexp_extract("stanza", r"Version: ([^\n]+)", 1).alias("version"),
            F.regexp_extract("stanza", r"Architecture: ([^\n]+)", 1).alias("arch"),
            F.regexp_extract("stanza", r"Installed-Size: ([0-9]+)", 1).cast("long").alias("size"),
            F.regexp_extract("stanza", r"Description: ([^\n]+)", 1).alias("description"),
            deps.alias("depends"),
            F.array().cast("array<string>").alias("provides"),
            atoms.alias("depends_raw"),
        )

    def fetch_to_cache(
        self,
        urls: list[str],
        cache_dir: str,
        validate: bool = True,
    ) -> list[str]:
        """Fill a local index cache from repo URLs — the pkg2 lifecycle
        stage AHEAD of :meth:`ingest_index_cache` (pkg2 fetched indexes
        over HTTP into `local/cache/`, reference/.vscode/settings.json:9).

        Transport-agnostic via urllib: ``file://`` is the in-sandbox
        implementation (this container has no network), ``http(s)://``
        rides the identical code path at deploy. Per-file atomicity
        (write to `.tmp`, then rename) so a crashed fetch never leaves a
        half-written archive a later ingest would trust; ``validate``
        checks that a `.gz`/`.tgz` payload starts with the gzip magic —
        a truncated download or an HTML error page must fail the fetch,
        not poison the cache.

        Cache names are the URL basename when that is unambiguous, but
        distinct URLs sharing a basename are the NORM for real repos
        (every Alpine repo/arch index is `APKINDEX.tar.gz`), so a
        basename-only scheme silently overwrites siblings. A
        `_fetch_manifest.json` sidecar (underscore-prefixed — Spark's
        binaryFile scan ignores `_`/`.` files, so ingest never sees it)
        records name -> source URL; any URL whose basename is already
        claimed by a DIFFERENT URL — within this call or by an earlier
        one — gets `md5(url)[:10]` spliced in BEFORE the last extension
        (`APKINDEX.tar-ab12cd34ef.gz`): the leading stem and trailing
        extension both survive, so ingest's member-name dispatch
        (startswith/contains on APKINDEX/Packages/primary.xml) and the
        gzip-magic validation both keep working. Re-fetching the same
        URL refreshes in place.

        This is deliberately a driver-side loop: fetching is
        control-plane work bounded by the URL list (one MB-scale index
        per repo/arch — thousands at most), while the data-plane
        inflate+parse stays distributed in ingest_index_cache. Returns
        the fetched file paths."""
        import hashlib
        import json
        import urllib.parse
        import urllib.request

        os.makedirs(cache_dir, exist_ok=True)
        manifest_path = os.path.join(cache_dir, "_fetch_manifest.json")
        claimed: dict[str, str] = {}
        if os.path.exists(manifest_path):
            with open(manifest_path) as f:
                claimed = json.load(f)

        fetched: list[str] = []
        for url in urls:
            base = os.path.basename(urllib.parse.urlparse(url).path)
            if not base:
                raise ValueError(f"cannot derive a cache file name from {url!r}")
            name = base
            if claimed.get(name, url) != url:
                root, ext = os.path.splitext(base)
                tag = hashlib.md5(url.encode()).hexdigest()[:10]
                name = f"{root}-{tag}{ext}"
            with urllib.request.urlopen(url) as resp:  # noqa: S310
                data = resp.read()
            if validate and name.endswith((".gz", ".tgz")) and data[:2] != b"\x1f\x8b":
                raise ValueError(
                    f"fetched {url!r} is not gzip data (starts {data[:8]!r}); "
                    "refusing to cache a corrupt or error-page payload"
                )
            dest = os.path.join(cache_dir, name)
            tmp = dest + ".tmp"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, dest)
            claimed[name] = url
            fetched.append(dest)

        mtmp = manifest_path + ".tmp"
        with open(mtmp, "w") as f:
            json.dump(claimed, f, indent=0, sort_keys=True)
        os.replace(mtmp, manifest_path)
        return fetched

    def read_index_archives(self, path: str) -> DataFrame:
        """Compressed repo-index cache dir -> (archive, member, text).

        pkg2 fetched indexes over HTTP into a local cache and ingested the
        cached archives (reference/.vscode/settings.json:9 watcher-excludes
        `**/local/cache/**`); real indexes ship compressed (APKINDEX.tar.gz,
        Packages.gz, repodata/*.xml.gz). This is the Spark-side cache
        reader: a `binaryFile` scan over the cache directory (one row per
        archive, bytes stay columnar) and a mapInPandas stage that inflates
        each archive with the stdlib codecs — gzip members yield one text,
        tarballs one text per member file. Decompression is bounded per
        archive (indexes are MB-scale by construction) and embarrassingly
        parallel across archives — a cache of thousands of per-repo/arch
        indexes inflates with no shuffle, exactly like the multimodal
        decode stage (operators/multimodal.py).
        """
        import pandas as pd

        raw = self.spark.read.format("binaryFile").load(path)

        def inflate(batches):
            import gzip
            import io
            import os
            import tarfile

            for pdf in batches:
                rows = []
                for p, content in zip(pdf["path"], pdf["content"]):
                    base = os.path.basename(p)
                    data = bytes(content)
                    if data[:2] == b"\x1f\x8b":
                        data = gzip.decompress(data)
                    if len(data) > 262 and data[257:262] == b"ustar":
                        with tarfile.open(fileobj=io.BytesIO(data)) as tf:
                            for m in tf.getmembers():
                                if m.isfile():
                                    rows.append(
                                        (base, m.name,
                                         tf.extractfile(m).read().decode("utf-8"))
                                    )
                    else:
                        member = base[:-3] if base.endswith(".gz") else base
                        rows.append((base, member, data.decode("utf-8")))
                yield pd.DataFrame(rows, columns=["archive", "member", "text"])

        return raw.select("path", "content").mapInPandas(
            inflate, "archive string, member string, text string"
        )

    def ingest_index_cache(self, path: str) -> DataFrame:
        """Ingest a cache dir of COMPRESSED indexes into the normalized
        package schema with a leading `distro` column, dispatching each
        inflated member to its format parser by member name — all four
        wire formats: APKINDEX(.tar.gz) -> alpine, Packages(.gz) ->
        debian, */primary.xml(.gz) -> fedora, pacman db tarball members
        (*/desc) -> arch. The cache-fed twin of the plaintext ingest_*
        methods — same projections, same downstream queries. The stored
        package table is the returned frame without `distro`."""
        return self._ingest(self._parse_index_cache(path))

    def _parse_index_cache(self, path: str) -> DataFrame:
        texts = self.read_index_archives(path)
        apk = self._apk_project(
            self._explode_stanzas(texts.filter(F.col("member").startswith("APKINDEX")))
        ).select(F.lit("alpine").alias("distro"), "*")
        deb = self._deb_project(
            self._explode_stanzas(texts.filter(F.col("member").startswith("Packages")))
        ).select(F.lit("debian").alias("distro"), "*")
        rpm = self._rpm_project(
            texts.filter(F.col("member").contains("primary.xml"))
            .select(F.explode(F.split("text", "</package>")).alias("blk"))
            .filter(F.col("blk").contains("<name>"))
        ).select(F.lit("fedora").alias("distro"), "*")
        arch = self._arch_project(
            texts.filter(
                F.col("member").endswith("/desc") | (F.col("member") == "desc")
            ).select(F.col("text").alias("blk"))
        ).select(F.lit("arch").alias("distro"), "*")
        shared = ["distro", "name", "version", "arch", "size", "description",
                  "depends", "provides"]

        def norm(part: DataFrame) -> DataFrame:
            cols = [F.col(c) for c in shared]
            cols.append(
                F.col("depends_raw") if "depends_raw" in part.columns
                else F.lit(None).cast("array<string>").alias("depends_raw")
            )
            return part.select(*cols)

        pkgs = norm(apk)
        for part in (deb, rpm, arch):
            pkgs = pkgs.unionByName(norm(part))
        return pkgs

    def audit_apkindex(self, path: str) -> DataFrame:
        """Schema-drift audit of an APKINDEX: one (stanza, reason) row per
        stanza, reason in {ok, missing_name, missing_version, bad_size}.

        The ingest projections regexp-extract silently — a stanza missing
        its P:/V: keys would otherwise become an empty-string package row.
        This is the quarantine gate (the q_src_corrupt pattern applied to
        index ingestion): classify first, ingest the 'ok' rows, count and
        keep the rest for the data-quality ledger. First-match-wins order:
        a stanza missing both keys reports missing_name."""
        s = self._stanzas(path)
        reason = (
            F.when(~F.col("stanza").rlike(r"(?m)^P:.+"), F.lit("missing_name"))
            .when(~F.col("stanza").rlike(r"(?m)^V:.+"), F.lit("missing_version"))
            .when(
                F.col("stanza").rlike(r"(?m)^S:")
                & ~F.col("stanza").rlike(r"(?m)^S:[0-9]+$"),
                F.lit("bad_size"),
            )
            .otherwise(F.lit("ok"))
        )
        return s.select("stanza", reason.alias("reason"))

    def audit_debian_packages(self, path: str) -> DataFrame:
        """The same quarantine gate for Debian Packages stanzas: reason in
        {ok, missing_name, missing_version, bad_size} (bad_size = an
        Installed-Size line present but non-numeric)."""
        s = self._stanzas(path)
        reason = (
            F.when(~F.col("stanza").rlike(r"(?m)^Package: .+"), F.lit("missing_name"))
            .when(~F.col("stanza").rlike(r"(?m)^Version: .+"), F.lit("missing_version"))
            .when(
                F.col("stanza").rlike(r"(?m)^Installed-Size: ")
                & ~F.col("stanza").rlike(r"(?m)^Installed-Size: [0-9]+$"),
                F.lit("bad_size"),
            )
            .otherwise(F.lit("ok"))
        )
        return s.select("stanza", reason.alias("reason"))

    def ingest_apkindex(self, path: str) -> DataFrame:
        """Alpine APKINDEX stanzas -> normalized package table.

        Schema: name, version, arch, size, description, depends<array>,
        provides<array>. Whole-file read per index (indexes are bounded,
        one per repo/arch); everything after the stanza explode is
        distributed."""
        return self._ingest(self._apk_project(self._stanzas(path)))

    @staticmethod
    def _eval_starlark_config(text: str, path: str) -> dict:
        """Restricted Starlark-subset evaluator for *.star collection
        definitions — pkg2 configured ingestion in Starlark
        (reference/.vscode/settings.json:2-4 associates *.star with
        starlark). The subset a DECLARATIVE collection file needs — and
        the only thing evaluated — is `name = <literal>` assignments over
        string/number/bool/None/list/dict literals, references to
        previously assigned names, and `+` concatenation (the idiomatic
        Starlark way to compose source lists). Pure AST walk: no exec, no
        eval, no calls, no imports/load(), no control flow — a config
        file that tries is rejected with the offending construct and its
        line named, which is the safety posture a config language
        embedded in a service must have.

        Accepted grammar (the documented subset — anything else raises)::

            file    := (docstring | assign)*
            assign  := NAME "=" expr
            expr    := STRING | NUMBER | True | False | None
                     | "[" expr, ... "]"         # lists
                     | "{" expr ":" expr, ... "}"  # dicts, hashable keys
                     | "-" NUMBER
                     | expr "+" expr             # list/str/num concat
                     | NAME                      # previously assigned

        Full Starlark is a PROGRAM language (load(), def, if, loops);
        configs that need it should compute upstream and emit literals,
        or deploy with a real Starlark interpreter behind this seam."""
        import ast

        tree = ast.parse(text, filename=path)
        env: dict = {}

        def _where(node) -> str:
            ln = getattr(node, "lineno", None)
            return f"{path}:{ln}" if ln else path

        def ev(node):
            if isinstance(node, ast.Constant):
                return node.value
            if isinstance(node, ast.Name):
                if node.id in env:
                    return env[node.id]
                raise ValueError(f"{_where(node)}: undefined name {node.id!r}")
            if isinstance(node, ast.Call):
                fn = getattr(node.func, "id", type(node.func).__name__)
                hint = (
                    "load() is not supported — inline the loaded literals"
                    if fn == "load"
                    else "function calls are outside the literal subset; "
                    "compute upstream and emit literals"
                )
                raise ValueError(
                    f"{_where(node)}: unsupported Starlark construct "
                    f"call to {fn}() ({hint}; see Engine._eval_starlark_config "
                    "for the accepted grammar)"
                )
            if isinstance(node, (ast.List, ast.Tuple)):
                return [ev(e) for e in node.elts]
            if isinstance(node, ast.Dict):
                out = {}
                for k, v in zip(node.keys, node.values):
                    if k is None:  # {**x} unpacking — not in the subset
                        raise ValueError(
                            f"{path}: unsupported Starlark construct "
                            "dict unpacking (the collection subset is "
                            "literal assignments only)"
                        )
                    key = ev(k)
                    val = ev(v)
                    try:
                        out[key] = val
                    except TypeError:
                        raise ValueError(
                            f"{path}: unsupported Starlark construct "
                            f"unhashable dict key {type(key).__name__} "
                            "(the collection subset is literal "
                            "assignments only)"
                        )
                return out
            if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
                return ev(node.left) + ev(node.right)
            if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
                return -ev(node.operand)
            raise ValueError(
                f"{path}: unsupported Starlark construct "
                f"{type(node).__name__} (the collection subset is "
                "literal assignments only)"
            )

        for stmt in tree.body:
            if (
                isinstance(stmt, ast.Assign)
                and len(stmt.targets) == 1
                and isinstance(stmt.targets[0], ast.Name)
            ):
                env[stmt.targets[0].id] = ev(stmt.value)
            elif isinstance(stmt, ast.Expr) and isinstance(
                stmt.value, ast.Constant
            ):
                continue  # bare docstring — Starlark files open with one
            else:
                raise ValueError(
                    f"{path}: unsupported statement "
                    f"{type(stmt).__name__} (only `name = <literal>` "
                    "assignments are evaluated)"
                )
        return env

    def ingest_collection(self, config_path: str) -> DataFrame:
        """Declarative source-collection ingestion — pkg2's Starlark
        collection definitions (reference/.vscode/settings.json:2-4
        associates *.star with starlark): a config lists sources as
        {distro, format, path} records and this method dispatches each to
        its format parser, unioning everything into one normalized table
        with a leading `distro` column (registered as `packages` without
        it). Paths resolve relative to the config file, so a collection
        directory is self-contained. Two equivalent config syntaxes: *.star (the pkg2
        language — evaluated by the restricted literal-subset walker
        above, no code execution) and JSON; both must define
        `sources = [{distro, format, path}, ...]`.

        Supported formats: apkindex, debian_packages, archdesc,
        rpm_primary, index_cache (a compressed fetch-cache directory).
        Adding a source is a config edit, not a code change — the pkg2
        operational model."""
        import json as _json

        raw = open(config_path).read()
        if config_path.endswith(".star"):
            cfg = self._eval_starlark_config(raw, config_path)
        else:
            cfg = _json.loads(raw)
        base = os.path.dirname(os.path.abspath(config_path))
        parsers = {
            "apkindex": lambda p: self._apk_project(self._stanzas(p)),
            "debian_packages": lambda p: self._deb_project(self._stanzas(p)),
            "archdesc": self._parse_archdesc,
            "rpm_primary": self._parse_rpm_primary,
        }
        out: DataFrame | None = None
        shared = ["name", "version", "arch", "size", "description",
                  "depends", "provides"]
        for src in cfg["sources"]:
            fmt, path = src["format"], src["path"]
            if not os.path.isabs(path):
                path = os.path.join(base, path)
            if fmt == "index_cache":
                # A cache dir can hold several wire formats; keep the
                # per-format distro tags ingest_index_cache derives rather
                # than mislabeling every row with the one config distro.
                part = self._parse_index_cache(path)
                distro_col = F.col("distro")
            elif fmt in parsers:
                part = parsers[fmt](path)
                distro_col = F.lit(src["distro"])
            else:
                raise ValueError(f"unknown source format: {fmt!r}")
            part = part.select(
                distro_col.alias("distro"),
                *[
                    F.col(c) if c in part.columns
                    else F.lit(None).cast("long").alias(c)
                    for c in shared
                ],
                # Carry raw constraint atoms through (as ingest_index_cache's
                # norm() does) so resolve_constrained works after a
                # collection ingest.
                F.col("depends_raw") if "depends_raw" in part.columns
                else F.lit(None).cast("array<string>").alias("depends_raw"),
            )
            out = part if out is None else out.unionByName(part)
        assert out is not None, "collection config lists no sources"
        return self._ingest(out)

    def ingest_debian_packages(self, path: str) -> DataFrame:
        """Debian/Ubuntu Packages stanzas -> the same normalized schema.
        Depends entries are comma-separated with optional version constraints
        ('libc6 (>= 2.34)') — constraints are stripped into the bare name."""
        return self._ingest(self._deb_project(self._stanzas(path)))

    @staticmethod
    def _arch_project(blocks: DataFrame) -> DataFrame:
        """Arch `desc` blocks (column ``blk``) -> normalized rows."""

        def sect(s: str) -> F.Column:
            return F.regexp_extract("blk", f"%{s}%\n([^\n]+)", 1)

        def multi(s: str) -> F.Column:
            return F.array_sort(
                F.filter(
                    F.transform(
                        F.split(F.regexp_extract("blk", f"%{s}%\n([^%]*)", 1), "\n"),
                        F.trim,
                    ),
                    lambda x: x != "",
                )
            )

        return blocks.select(
            sect("NAME").alias("name"),
            sect("VERSION").alias("version"),
            sect("ARCH").alias("arch"),
            F.regexp_extract("blk", "%CSIZE%\n([0-9]+)", 1).cast("long").alias("size"),
            sect("DESC").alias("description"),
            multi("DEPENDS").alias("depends"),
            multi("PROVIDES").alias("provides"),
        )

    def ingest_archdesc(self, path: str) -> DataFrame:
        """Arch-style `desc` blocks (concatenated repo-db form) -> the same
        normalized schema. Sections are %KEY% headers; multi-value sections
        (DEPENDS/PROVIDES) run one entry per line until the next %KEY%."""
        return self._ingest(self._parse_archdesc(path))

    def _parse_archdesc(self, path: str) -> DataFrame:
        raw = self.spark.read.text(path, wholetext=True)
        blocks = raw.select(
            F.explode(F.split("value", "%FILENAME%")).alias("blk")
        ).filter(F.trim("blk") != "")
        return self._arch_project(blocks)

    @staticmethod
    def _rpm_project(blocks: DataFrame) -> DataFrame:
        """RPM primary.xml <package> blocks (column ``blk``) -> rows."""

        def entries(section: str) -> F.Column:
            sec = F.regexp_extract("blk", f"(?s)<rpm:{section}>(.*?)</rpm:{section}>", 1)
            return F.array_sort(F.regexp_extract_all(sec, F.lit('name="([^"]+)"'), 1))

        # RPM versions are EVR triples (epoch:version-release); the epoch
        # attribute disambiguates upstream version-scheme resets and is
        # nonzero on real Fedora/RHEL packages (bind, vim). It is prepended
        # only when nonzero — the rpm convention — so downstream ordering
        # (q_pkg_version_order / latest) sees it; a block whose ver fails to
        # parse yields an empty version rather than a malformed "-rel".
        ver = F.regexp_extract("blk", '<version[^>]*ver="([^"]+)"', 1)
        rel = F.regexp_extract("blk", '<version[^>]*rel="([^"]+)"', 1)
        epoch = F.regexp_extract("blk", '<version[^>]*epoch="([0-9]+)"', 1)
        evr = F.concat(
            F.when(~epoch.isin("", "0"), F.concat(epoch, F.lit(":"))).otherwise(F.lit("")),
            ver,
            F.when(rel != "", F.concat(F.lit("-"), rel)).otherwise(F.lit("")),
        )
        pkgs = blocks.select(
            F.regexp_extract("blk", "<name>([^<]+)</name>", 1).alias("name"),
            F.when(ver == "", F.lit("")).otherwise(evr).alias("version"),
            F.regexp_extract("blk", "<arch>([^<]+)</arch>", 1).alias("arch"),
            F.regexp_extract("blk", '<size package="([0-9]+)"', 1).cast("long").alias("size"),
            F.regexp_extract("blk", "<summary>([^<]*)</summary>", 1).alias("description"),
            entries("requires").alias("depends"),
            entries("provides").alias("provides"),
            entries("conflicts").alias("conflicts"),
        )
        return pkgs

    def ingest_rpm_primary(self, path: str) -> DataFrame:
        """RPM repodata primary.xml -> the same normalized schema (fourth
        index format: Fedora/RHEL/openSUSE). One <package> element per
        record; requires/provides are <rpm:entry name="..."/> children of
        their <rpm:requires>/<rpm:provides> sections. Parsed with the same
        whole-file -> record explode -> regexp field extraction dataflow as
        the other three formats — at repo scale the explode distributes and
        a directory of per-repo XMLs parallelizes across files."""
        return self._ingest(self._parse_rpm_primary(path))

    def _parse_rpm_primary(self, path: str) -> DataFrame:
        raw = self.spark.read.text(path, wholetext=True)
        blocks = raw.select(
            F.explode(F.split("value", "</package>")).alias("blk")
        ).filter(F.col("blk").contains("<name>"))
        return self._rpm_project(blocks)

    # ------------------------------------------------------------- queries
    def _state(self) -> _IndexState:
        index = self._index
        if index is None:
            raise ValueError("no package index ingested yet")
        return index

    def _pkgs(self) -> DataFrame:
        return self._state().packages

    def search_packages(self, pattern: str, arch: str | None = None) -> DataFrame:
        """SQL-LIKE name search (pkg2's package search), optionally filtered
        to one architecture — the interactive exact/prefix/wildcard lookup
        (q_pkg_search is the federated multi-distro form)."""
        out = self._pkgs().filter(F.col("name").like(pattern))
        if arch is not None:
            out = out.filter(F.col("arch") == arch)
        return out

    def whatprovides(self, capability: str) -> DataFrame:
        """Which packages provide a capability (own name, or a provides
        entry, version suffix ignored)."""
        return self._state().capabilities().filter(F.col("capability") == capability)

    def whatdepends(self, package: str) -> DataFrame:
        """Reverse dependency lookup: packages whose depends resolve (through
        provides) to ``package`` — the inverse of :meth:`whatprovides`.
        The edges are distinct per (src, capability, dst), so fixing dst
        leaves distinct (dependent, capability) rows."""
        return (
            self._state().dependency_edges()
            .filter(F.col("dst") == package)
            .select(F.col("src").alias("dependent"), "capability")
        )

    def latest_versions(self) -> DataFrame:
        """Top-1 per package name under numeric-aware version ordering —
        pkg2's latest-version-per-package [Tier C analog]."""
        return self._state().latest_versions()

    def match_advisories(self, adv_path: str) -> DataFrame:
        """Security-advisory audit — pkg2's secdb consumer: join the
        ingested package table against an advisory feed ({cve, name,
        fixed_version} records) and classify every installed build as
        vulnerable (version < fixed_version on the numeric-aware key,
        raw-string tiebreak) or patched. One row per (installed build ×
        advisory for its package) — an index can carry several builds and
        a package several advisories, and an auditor wants each cell.

        Scale posture: the advisory feed is bounded (thousands of rows) →
        broadcast hash join on name against the arbitrarily-large package
        table; classification is row-local expression arithmetic."""
        pkgs = self._pkgs()
        adv = self.spark.read.option("multiLine", "true").json(adv_path).select(
            "cve", "name", "fixed_version"
        )
        pk, fk = version_key(F.col("version")), version_key(F.col("fixed_version"))
        # A null/absent fixed_version is the standard "no fix released yet"
        # advisory shape (Alpine secdb '0'/missing entries). The comparison
        # predicate is NULL there, so an otherwise("patched") would silently
        # fail OPEN in a security audit — classify it explicitly as
        # 'unfixed' before any version arithmetic runs.
        status = (
            F.when(F.col("fixed_version").isNull(), F.lit("unfixed"))
            .when(
                (pk < fk) | ((pk == fk) & (F.col("version") < F.col("fixed_version"))),
                F.lit("vulnerable"),
            )
            .otherwise(F.lit("patched"))
        )
        return (
            pkgs.select("name", "arch", "version")
            .join(F.broadcast(adv), "name")
            .select("name", "arch", "version", "cve", "fixed_version",
                    status.alias("status"))
        )

    def index_delta(self, old: DataFrame, new: DataFrame) -> DataFrame:
        """Snapshot diff between two index versions of the SAME repository —
        the CDC payload a mirror/scanner consumes per sync: which (name,
        arch) rows were added, removed, upgraded, or downgraded between the
        old and new snapshot. Each side is first reduced to its latest
        version per (name, arch) (an index can legitimately carry several
        builds of one package); version ordering rides on the numeric-aware
        version_key with the raw string as tiebreak, so the classification
        is deterministic and engine-portable. Unchanged rows are excluded —
        the output is the change feed, not a full reconciliation dump.

        Scale posture: two map-combinable row_number windows keyed by
        (name, arch) + one full-outer equi-join on the same high-cardinality
        natural key — no broadcast of anything corpus-sized, no skew (one
        row per package per side after the latest-reduction)."""

        def latest(df: DataFrame, tag: str) -> DataFrame:
            w = Window.partitionBy("name", "arch").orderBy(
                version_key(F.col("version")).desc_nulls_last(),
                F.col("version").desc_nulls_last(),
            )
            return (
                df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("name", "arch", F.col("version").alias(f"{tag}_version"))
            )

        o, n = latest(old, "old"), latest(new, "new")
        joined = o.join(n, ["name", "arch"], "full_outer")
        ok, nk = version_key(F.col("old_version")), version_key(F.col("new_version"))
        change = (
            F.when(F.col("old_version").isNull(), F.lit("added"))
            .when(F.col("new_version").isNull(), F.lit("removed"))
            .when(F.col("old_version") == F.col("new_version"), F.lit("unchanged"))
            .when(
                (nk > ok) | ((nk == ok) & (F.col("new_version") > F.col("old_version"))),
                F.lit("upgraded"),
            )
            .otherwise(F.lit("downgraded"))
        )
        return (
            joined.withColumn("change", change)
            .filter(F.col("change") != "unchanged")
            .select("name", "arch", "old_version", "new_version", "change")
        )

    def resolve(self, package: str, max_depth: int = 10) -> DataFrame:
        """Dependency closure (BFS over depends, so:* capabilities resolved
        through provides). Returns (node, depth) with minimal depth.

        The distinct (src, dst) edges and their count are per-ingest state
        (_IndexState.package_edges): checkpointed with the count folded
        into the same job. Under graph_ops.LOCAL_FINISH_EDGES edges the
        first resolve of an ingest also collects their adjacency (one job),
        and every later call runs only its BFS on the driver; its result
        is a one-partition local frame, so collecting it is the call's one
        job, and an empty closure runs none. A larger edge set is resolved
        in distributed rounds over the cached edges (graph_ops.reachability)."""
        return reachability(
            self._state().package_edges(), "src", "dst", {"src": package},
            node="node", max_depth=max_depth,
        )

    def package_edges(self) -> DataFrame:
        """Package-level dependency edges: distinct (src, dst) where src
        depends on a capability dst provides (through the capability map).
        The graph resolve walks; q_pkg_revdeps and q_pkg_blast_radius read
        it too. Per-ingest state: built and checkpointed once, with its
        count."""
        return self._state().package_edges().frame

    def depends_atoms(self) -> DataFrame:
        """Parsed constraint atoms: (src_name, src_version, dep_name, op,
        dver). Two syntaxes, auto-detected per atom:

        - Debian: ``name (>= ver)`` — ops >=, <=, =, >>, <<; whitespace
          around the operator is optional (dpkg accepts ``name (>=1.4)``),
          and dpkg's legacy bare ``>``/``<`` mean inclusive >=/<= — both
          are normalized at parse time;
        - Alpine/apk inline: ``name>=ver`` (no spaces) — ops >=, <=, =,
          <, > (bare </> are STRICT in apk; apk's fuzzy ``~`` is not
          modeled).

        An atom without a constraint yields op = '' (matches any
        version). Requires an ingest path that preserves depends_raw."""
        return _depends_atoms(self._pkgs())

    def constrained_edges(self) -> DataFrame:
        """Version-level dependency edges honoring constraints:
        (src_name, src_version) -> (dst_name, dst_version) exists iff some
        depends atom of the source names dst and dst's version SATISFIES
        the atom's constraint under the numeric-aware version_key ordering
        (the pkg2 resolver semantics — constraints select among available
        versions instead of being stripped). Unsatisfiable atoms simply
        produce no edge. One equi-join on package name + a row-local key
        comparison: at repo scale this is name-partitioned, shuffle-light.
        Per-ingest state: built and checkpointed once, with its count."""
        return self._state().constrained_edges().frame

    def resolve_constrained(self, package: str, max_depth: int = 10) -> DataFrame:
        """Constraint-aware dependency closure from every version of
        ``package``: BFS over constrained_edges, nodes are (name, version),
        minimal depth per node — the same kernel as :meth:`resolve`
        (graph_ops.reachability), starting from every version's edges. The
        driver-local finish seeds on ``src_name`` alone, through a seed
        index kept with the adjacency, so a warm call runs one job too."""
        return reachability(
            self._state().constrained_edges(),
            ("src_name", "src_version"), ("dst_name", "dst_version"),
            {"src_name": package}, node=("name", "version"), max_depth=max_depth,
        )

    # ---------------------------------------------- LLM-data-pipeline surface
    # Thin delegations to the operator library — the corpus-level API a
    # training-data pipeline scripts against. Every method returns a lazy
    # DataFrame; nothing collects.

    def dedup_exact(self, docs: DataFrame, text: str = "text", key: str = "doc_id") -> DataFrame:
        """One row per distinct normalized text; keeps the min key."""
        h = F.md5(F.lower(F.trim(F.col(text))))
        return (
            docs.withColumn("__h", h)
            .groupBy("__h")
            .agg(F.min(key).alias(key))
            .drop("__h")
        )

    def near_dup_components(self, pairs: DataFrame, src: str, dst: str) -> DataFrame:
        from pkg2_spark.operators.dedup import resolve_components

        return resolve_components(pairs, src=src, dst=dst)

    def lsh_candidate_pairs(
        self,
        docs: DataFrame,
        key: str = "doc_id",
        num_hashes: int = 8,
        rows_per_band: int = 4,
        cap: int | None = 64,
    ) -> DataFrame:
        """MinHash/LSH candidate pairs (doc_a < doc_b) over a text corpus —
        the recall stage of candidate-then-verify near-dup detection, with
        the per-bucket hot-band cap (operators/lsh.py) bounding saturated
        band keys to O(cap²) pairs. Uncapped (``cap=None``), the band table's
        key vector lets the kernel emit each pair once, with no distinct."""
        from pkg2_spark.operators.lsh import banded_pairs
        from pkg2_spark.operators.text import (
            lsh_bands,
            minhash_signatures,
            tokenize_distinct,
        )

        bands = lsh_bands(
            minhash_signatures(tokenize_distinct(docs, id_col=key), num_hashes, id_col=key),
            num_hashes,
            rows_per_band,
            id_col=key,
        )
        return banded_pairs(bands, key, "doc_a", "doc_b", cap=cap)

    def dedup_index_build(self, corpus: DataFrame, state_dir: str, **kw) -> None:
        """Materialize the persisted embedding dedup index (band table +
        pair provenance + verified cosines) — see operators/dedup_index.py."""
        from pkg2_spark.operators.dedup_index import build_state

        build_state(corpus, state_dir, **kw)

    def dedup_index_apply(
        self,
        state_dir: str,
        delta: DataFrame,
        vectors: DataFrame,
        commit_dir: str | None = None,
        **kw,
    ) -> DataFrame:
        """Dedup one new shard against the persisted index; optionally
        commit the merged state for the next shard. Returns verified pairs
        (feed to near_dup_components for cluster labels)."""
        from pkg2_spark.operators.dedup_index import apply_delta

        return apply_delta(state_dir, delta, vectors, commit_dir=commit_dir, **kw)

    def sample(self, df: DataFrame, key: str, frac: float) -> DataFrame:
        from pkg2_spark.operators.sampling import hash_sample

        return hash_sample(df, key, frac)

    def split(self, df: DataFrame, key: str, weights: dict[str, float]) -> DataFrame:
        from pkg2_spark.operators.sampling import hash_split

        return hash_split(df, key, weights)

    def stratified_sample(self, df: DataFrame, strata: str, key: str, k: int) -> DataFrame:
        from pkg2_spark.operators.sampling import stratified_sample

        return stratified_sample(df, strata, key, k)

    def knn(self, vectors: DataFrame, probes: DataFrame, k: int, **kw) -> DataFrame:
        from pkg2_spark.operators.similarity import knn_bruteforce

        return knn_bruteforce(vectors, probes, k, **kw)

    def ann_search(
        self,
        embeddings: DataFrame,
        probes: DataFrame | None = None,
        n_probe: int | None = None,
        k: int = 5,
        min_recall: float | None | object = _AUDIT_DEFAULT,
        audit_probes: int = 5,
        on_low_recall: str = "fallback",
        dim: int | None = None,
        **kw,
    ) -> DataFrame:
        """Multi-probe IVF ANN over (vec_id, embedding) — the serving
        entry point. Returns (probe_id, vec_id, cos) top-k rows per probe.

        - ``probes``: the query vectors — (probe_id, probe_embedding),
          knn_bruteforce's convention. None keeps the self-probe
          diagnostic shape (the corpus's first ``audit_probes`` vectors
          query themselves — the recall-tuning surface the registered
          queries pin; r10 advice: external queries need this parameter).
        - ``n_probe`` (default: the session knob self.ann_n_probe) is the
          recall/latency lever: per-query cost ≈ n_probe × ~1.5×
          target-cell rows; recall@k is monotone in n_probe when callers
          pin descent (see operators/ivf.py::ann_multiprobe and the SCALING.md
          recall table for the measured curve).
        - ``min_recall``: the safety bar, ON BY DEFAULT (r11 verdict #1
          — the default path must not serve an unaudited index).
          SCALING.md documents that cell-pruning recall collapses on
          isotropic (structure-free) corpora — 0.16-0.28 at n_probe=8 on
          the diverse probes. Left unset, the bar is the engine knob
          ``self.ann_min_recall`` (0.8); pass an explicit ``None`` to
          skip the audit and always serve IVF. With a bar set, recall@k
          is first measured on the standard bounded self-probes (both
          arms the engine's own operators; one tiny driver-side
          aggregate, the IVF tree is memoized so the audit shares it
          with the serve; corpora with no vec_id < audit_probes rows
          re-audit on their ``audit_probes`` smallest ids so the check
          cannot pass vacuously). If measured recall < the bar:
          ``on_low_recall="fallback"`` (default) serves exact
          knn_bruteforce instead (warning with the measured number;
          linear scan, always correct), ``"raise"`` raises with the
          measured number. The audit outcome lands in
          ``self.last_ann_recall`` / ``self.last_ann_path``.
        - ``dim``: embedding width — lets the brute-force arms run in the
          wide codegen form (2× faster; optional, values identical).

        When the audit misses the bar at the requested beam in fallback
        mode, the engine ESCALATES n_probe through
        ``self.ann_escalation_ladder`` (default (8, 16, 32)) before
        conceding: the IVF tree is memoized (operators/ivf.py::tree), so
        each re-audit costs only the extra candidate-cell rows, while the
        brute-force concession is a full O(n) corpus scan per probe. Only
        when the widest beam still misses does it serve exact
        knn_bruteforce. ``on_low_recall="raise"`` instead pins the
        caller's beam — a miss at the requested n_probe raises immediately
        (the caller asked for a guarantee AT that configuration). The
        audit outcome lands in ``self.last_ann_recall`` /
        ``self.last_ann_path`` (``"ivf"``, ``"ivf(n_probe=N)"`` for an
        escalated serve, or ``"bruteforce"``), and the full ladder in
        ``self.last_ann_escalation`` ([(n_probe, recall), ...]).
        """
        import warnings

        from pyspark.sql import Window

        from pkg2_spark.operators.ivf import ann_multiprobe, probe_frame
        from pkg2_spark.operators.similarity import knn_bruteforce

        if on_low_recall not in ("fallback", "raise"):
            raise ValueError("on_low_recall must be 'fallback' or 'raise'")
        np_ = self.ann_n_probe if n_probe is None else n_probe
        if min_recall is _AUDIT_DEFAULT:
            min_recall = self.ann_min_recall
        self.last_ann_recall: float | None = None
        self.last_ann_path = "ivf"
        self.last_ann_escalation: list[tuple[int, float]] = []

        def _mprobe_kw(npx: int) -> dict:
            # Escalated beams must widen descent alongside n_probe
            # (ann_multiprobe requires descent >= n_probe); a caller-pinned
            # wider descent is kept.
            kws = dict(kw)
            if kws.get("descent") is not None:
                kws["descent"] = max(kws["descent"], npx)
            return kws

        if min_recall is not None:

            def _audit_once(audit_df, explicit, npx):
                exact_df = knn_bruteforce(
                    embeddings.select("vec_id", "embedding"), audit_df, k=k, dim=dim
                ).select("probe_id", "vec_id")
                approx = ann_multiprobe(
                    embeddings, n_probe=npx, k=k + 1 if explicit else k,
                    n_queries=audit_probes,
                    probes=audit_df if explicit else None, **_mprobe_kw(npx),
                )
                if explicit:
                    # The explicit re-audit probes ARE corpus vectors (the
                    # audit_probes smallest ids), but ann_multiprobe's
                    # external-probes path never self-excludes — the probe's
                    # own vector (cos = 1.0) would occupy one of the k approx
                    # slots and cap measured recall at (k-1)/k while the
                    # exact arm excludes self. Symmetrize: fetch k+1, drop
                    # self-hits, re-rank to top-k on the same deterministic
                    # key both engines use.
                    w_rr = Window.partitionBy("probe_id").orderBy(
                        F.col("cos").desc_nulls_last(),
                        F.col("vec_id").asc_nulls_last(),
                    )
                    approx = (
                        approx.filter(F.col("probe_id") != F.col("vec_id"))
                        .withColumn("__rn", F.row_number().over(w_rr))
                        .filter(F.col("__rn") <= k)
                    )
                approx_df = (
                    approx.select("probe_id", "vec_id")
                    .withColumn("__hit", F.lit(1))
                )
                n_exact, n_hits = (
                    exact_df.join(approx_df, ["probe_id", "vec_id"], "left")
                    .agg(
                        F.count(F.lit(1)),
                        F.sum(F.coalesce(F.col("__hit"), F.lit(0))),
                    )
                    .collect()[0]
                )
                # (recall, exact rows); an empty audit reads recall 1.0
                return (int(n_hits or 0) / n_exact if n_exact else 1.0), n_exact

            audit = probe_frame(embeddings.filter(F.col("vec_id") < audit_probes))
            explicit = False
            measured, n_exact = _audit_once(audit, explicit=False, npx=np_)
            if not n_exact:
                # Sparse/offset id space: no vec_id < audit_probes rows, so
                # the self-probe convention found nothing to audit. Re-audit
                # on the audit_probes smallest ids (bounded sort-limit)
                # routed through the explicit-probes path — the bar must
                # never pass vacuously.
                audit = probe_frame(embeddings.orderBy("vec_id").limit(audit_probes))
                explicit = True
                measured, _ = _audit_once(audit, explicit=True, npx=np_)
            self.last_ann_recall = measured
            self.last_ann_escalation = [(np_, measured)]
            np_serve = np_
            if measured < min_recall and on_low_recall == "raise":
                # raise mode pins the caller's beam: they asked for a
                # guarantee AT this configuration, so a miss surfaces
                # immediately rather than silently serving a costlier beam.
                raise ValueError(
                    f"ann_search: audited recall@{k} = {measured:.3f} < "
                    f"min_recall = {min_recall} at n_probe = {np_} (the "
                    "cell-pruning bound on structure-free corpora — "
                    "SCALING.md)"
                )
            if measured < min_recall:
                # Escalate the beam before conceding to O(n): the memoized
                # tree makes each step only extra candidate rows (verdict
                # r12 #2). Serve at the first n_probe that clears the bar.
                for npx in (b for b in self.ann_escalation_ladder if b > np_):
                    measured, _ = _audit_once(audit, explicit, npx)
                    self.last_ann_escalation.append((npx, measured))
                    self.last_ann_recall = measured
                    if measured >= min_recall:
                        np_serve = npx
                        break
            if measured >= min_recall:
                if np_serve != np_:
                    self.last_ann_path = f"ivf(n_probe={np_serve})"
                    warnings.warn(
                        f"ann_search: recall@{k} missed min_recall = "
                        f"{min_recall} at n_probe = {np_} "
                        f"({self.last_ann_escalation[0][1]:.3f}); escalated "
                        f"beam to n_probe = {np_serve} (audited "
                        f"{measured:.3f}).",
                        stacklevel=2,
                    )
                return ann_multiprobe(
                    embeddings, n_probe=np_serve, k=k, n_queries=audit_probes,
                    probes=probes, **_mprobe_kw(np_serve),
                ).select("probe_id", "vec_id", "cos")
            ladder = ", ".join(
                f"n_probe={n}: {r:.3f}" for n, r in self.last_ann_escalation
            )
            warnings.warn(
                f"ann_search: audited recall@{k} missed min_recall = "
                f"{min_recall} at every beam width ({ladder}) — the "
                "cell-pruning bound on structure-free corpora (SCALING.md)"
                "; serving exact knn_bruteforce instead.",
                stacklevel=2,
            )
            self.last_ann_path = "bruteforce"
            served = audit if probes is None else probe_frame(probes)
            return knn_bruteforce(
                embeddings.select("vec_id", "embedding"), served, k=k,
                dim=dim, exclude_self=probes is None,
            ).select("probe_id", "vec_id", "cos")
        return ann_multiprobe(
            embeddings, n_probe=np_, k=k, n_queries=audit_probes,
            probes=probes, **kw,
        ).select("probe_id", "vec_id", "cos")

    def acid_table(
        self,
        path: str,
        stats_cols: list[str] | None = None,
        cluster_by: str | None = None,
    ):
        """Handle on an ACID logged table (pkg2_spark/tableformat.py):
        exclusive-create commit protocol, snapshot-isolated reads, time
        travel, stats-pruned copy-on-write MERGE, file-pruned CDC
        (Table.changes), history, vacuum. ``stats_cols`` are recorded
        per file at commit for data skipping; ``cluster_by``
        range-clusters every commit so those stats prune like
        partitions."""
        from pkg2_spark.tableformat import Table

        return Table(
            self.spark, path, stats_cols=stats_cols, cluster_by=cluster_by
        )

    def asof_join(self, left: DataFrame, right: DataFrame, **kw) -> DataFrame:
        from pkg2_spark.operators.asof import asof_join

        return asof_join(left, right, **kw)

    def read_sqlite(self, db_path: str, table: str, **kw) -> DataFrame:
        """Partitioned parallel DB ingest — spark.read.jdbc's
        partitionColumn/lowerBound/upperBound/numPartitions semantics
        over stdlib sqlite3 (pkg2_spark/dbsource.py); per-task bounded
        pulls, no driver materialization."""
        from pkg2_spark.dbsource import read_sqlite

        return read_sqlite(self.spark, db_path, table, **kw)

    def pagerank(self, edges: DataFrame, src: str = "src", dst: str = "dst",
                 iters: int = 3) -> DataFrame:
        """Deterministic integer-scaled PageRank over a directed edge set."""
        from pkg2_spark.operators.graph_ops import pagerank

        return pagerank(edges, src=src, dst=dst, iters=iters)

    def sessionize(self, df: DataFrame, **kw) -> DataFrame:
        """Gap-based session ids per key (batch sessionization)."""
        from pkg2_spark.operators.sessions import sessionize

        return sessionize(df, **kw)

    def bloom_gate(self, probe: DataFrame, elements: DataFrame, col: str,
                   m: int = 8192, k: int = 4) -> DataFrame:
        """Rows of ``probe`` whose ``col`` a deterministic Bloom filter
        built over ``elements[col]`` reports as present (zero false
        negatives; see operators/bloom.py for the error accounting)."""
        from pkg2_spark.operators.bloom import bloom_build, bloom_probe

        return bloom_probe(probe, bloom_build(elements, col, m, k), col, m, k)

    def ema(self, df: DataFrame, key: str, order: list, value: str) -> DataFrame:
        """Final alpha=1/2 EMA per key over an INTEGER value column
        (sequential within a key, parallel across keys)."""
        from pkg2_spark.operators.recurrence import ema_halving

        return ema_halving(df, key, order, value)

    def cusum(self, df: DataFrame, keys: list, order: list, value: str,
              ref: str) -> DataFrame:
        """One-sided CUSUM change-point statistic per key over INTEGER
        value/reference columns (max_cusum + final_cusum; segmented
        vectorized fold, flat in key count)."""
        from pkg2_spark.operators.recurrence import cusum_fold

        return cusum_fold(df, keys, order, value, ref)

    def holt(self, df: DataFrame, key: str, order: list, value: str) -> DataFrame:
        """Holt level+trend double exponential smoothing per key over an
        INTEGER value column (alpha = beta = 1/2, truncating halving)."""
        from pkg2_spark.operators.recurrence import holt_fold

        return holt_fold(df, key, order, value)

    def connected_components(self, edges: DataFrame, src: str = "src",
                             dst: str = "dst") -> DataFrame:
        """(node, component) over the undirected edge graph — min-label
        contraction with the driver-local union-find finish (alias of
        near_dup_components for graph-shaped callers)."""
        from pkg2_spark.operators.dedup import resolve_components

        return resolve_components(edges, src=src, dst=dst)
