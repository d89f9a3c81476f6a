"""Package-domain queries — pkg2's own capability surface, end-to-end.

These exercise the Engine facade (pkg2_spark/engine.py): Debian Packages
ingestion (second index format), the provides→provider capability map,
latest-version-per-package under numeric version ordering, and dependency
resolution through provides. Each has a full DuckDB oracle reconstructing the
same parse + query in SQL.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from pkg2_spark.engine import Engine, capability_map, version_key
from pkg2_spark.operators.graph_ops import reachability
from pkg2_spark.queries.relational import _APKINDEX_PATH, _REPO_DIR
from pkg2_spark.registry import query

import os
import shutil

_PACKAGES_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "packages_sample.txt")

# Debian Packages parse as DuckDB CTEs (mirrors Engine.ingest_debian_packages)
_DEB_PKGS_CTE = f"""
deb_stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{_PACKAGES_PATH}')
),
deb_pkgs AS (
  SELECT
    regexp_extract(stanza, 'Package: ([^\\n]+)', 1) AS name,
    regexp_extract(stanza, 'Version: ([^\\n]+)', 1) AS version,
    regexp_extract(stanza, 'Architecture: ([^\\n]+)', 1) AS arch,
    CAST(regexp_extract(stanza, 'Installed-Size: ([0-9]+)', 1) AS BIGINT) AS size,
    list_sort(list_filter(
      list_transform(string_split(regexp_extract(stanza, 'Depends: ([^\\n]+)', 1), ', '),
                     d -> trim(regexp_replace(d, '\\s*\\([^)]*\\)', ''))),
      x -> x <> '')) AS depends
  FROM deb_stanzas WHERE trim(stanza) <> ''
)
"""

# APKINDEX parse with provides, as DuckDB CTEs (mirrors Engine.ingest_apkindex)
_APK_PKGS_CTE = f"""
apk_stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{_APKINDEX_PATH}')
),
apk_pkgs AS (
  SELECT
    regexp_extract(stanza, 'P:([^\\n]+)', 1) AS name,
    regexp_extract(stanza, 'V:([^\\n]+)', 1) AS version,
    regexp_extract(stanza, 'A:([^\\n]+)', 1) AS arch,
    list_sort(list_filter(string_split(regexp_extract(stanza, '\\nD:([^\\n]+)', 1), ' '), x -> x <> '')) AS depends,
    list_sort(list_filter(string_split(regexp_extract(stanza, '\\np:([^\\n]+)', 1), ' '), x -> x <> '')) AS provides
  FROM apk_stanzas WHERE trim(stanza) <> ''
)
"""

_VKEY_SQL = "array_to_string(list_transform(regexp_extract_all({c}, '[0-9]+'), x -> lpad(x, 6, '0')), '.')"

_ARCHDESC_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "archdesc_sample.txt")

# Arch `desc` parse as DuckDB CTEs (mirrors Engine.ingest_archdesc)
_ARCH_PKGS_CTE = f"""
arch_blocks AS (
  SELECT unnest(string_split(content, '%FILENAME%')) AS blk
  FROM read_text('{_ARCHDESC_PATH}')
),
arch_pkgs AS (
  SELECT
    regexp_extract(blk, '%NAME%' || chr(10) || '([^' || chr(10) || ']+)', 1) AS name,
    regexp_extract(blk, '%VERSION%' || chr(10) || '([^' || chr(10) || ']+)', 1) AS version,
    regexp_extract(blk, '%ARCH%' || chr(10) || '([^' || chr(10) || ']+)', 1) AS arch,
    CAST(regexp_extract(blk, '%CSIZE%' || chr(10) || '([0-9]+)', 1) AS BIGINT) AS size,
    list_sort(list_filter(
      list_transform(string_split(regexp_extract(blk, '%DEPENDS%' || chr(10) || '([^%]*)', 1), chr(10)), x -> trim(x)),
      x -> x <> '')) AS depends,
    list_sort(list_filter(
      list_transform(string_split(regexp_extract(blk, '%PROVIDES%' || chr(10) || '([^%]*)', 1), chr(10)), x -> trim(x)),
      x -> x <> '')) AS provides
  FROM arch_blocks WHERE trim(blk) <> ''
)
"""


@query(
    "q_pkg_debindex",
    oracle=f"""
WITH {_DEB_PKGS_CTE.strip()}
SELECT name, version, arch, size, to_json(depends) AS depends FROM deb_pkgs
""",
)
def q_pkg_debindex(spark, sf_dir):
    # depends is JSON-serialized at the output boundary (driver hasher rejects
    # bare lists); the array form lives on in Engine.ingest_debian_packages.
    eng = Engine(spark)
    return eng.ingest_debian_packages(_PACKAGES_PATH).select(
        "name", "version", "arch", "size", F.to_json("depends").alias("depends")
    )


@query(
    "q_pkg_provides",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()}
SELECT DISTINCT
  unnest(flatten([[name], list_transform(provides, x -> split_part(x, '=', 1))])) AS capability,
  name AS provider
FROM apk_pkgs
""",
)
def q_pkg_provides(spark, sf_dir):
    # The full capability→provider map ("which package provides X").
    eng = Engine(spark)
    p = eng.ingest_apkindex(_APKINDEX_PATH)
    return capability_map(p).select("capability", "provider").distinct()


@query(
    "q_pkg_latest",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()}
SELECT name, version, arch FROM apk_pkgs
QUALIFY row_number() OVER (
  PARTITION BY name
  ORDER BY {_VKEY_SQL.format(c="version")} DESC NULLS LAST, arch ASC NULLS LAST
) = 1
""",
)
def q_pkg_latest(spark, sf_dir):
    # latest-version-per-package under numeric-aware version ordering —
    # pkg2's windowed top-1 [Tier C analog]; the padded-components key makes
    # '1.36.1' sort above '1.35.0' lexicographically in both engines.
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    return eng.latest_versions().select("name", "version", "arch")


@query(
    "q_pkg_resolve",
    oracle=f"""
WITH RECURSIVE {_DEB_PKGS_CTE.strip()},
dep_rows AS (SELECT name AS src, unnest(depends) AS capability FROM deb_pkgs),
providers AS (SELECT DISTINCT name AS capability, name AS provider FROM deb_pkgs),
edges AS (
  SELECT DISTINCT d.src, p.provider AS dst
  FROM dep_rows d JOIN providers p USING (capability)
),
reach(node, depth) AS (
  SELECT dst, 1 FROM edges WHERE src = 'python3.11'
  UNION
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON r.node = e.src
  WHERE r.depth < 10
)
SELECT node, CAST(min(depth) AS INTEGER) AS depth FROM reach GROUP BY node
""",
)
def q_pkg_resolve(spark, sf_dir):
    # Dependency resolution through the provider map (Engine.resolve):
    # BFS closure of python3.11 over the Debian sample.
    eng = Engine(spark)
    eng.ingest_debian_packages(_PACKAGES_PATH)
    return eng.resolve("python3.11").groupBy("node").agg(
        F.min("depth").cast("int").alias("depth")
    )


@query(
    "q_pkg_archindex",
    oracle=f"""
WITH {_ARCH_PKGS_CTE.strip()}
SELECT name, version, arch, size,
       to_json(depends) AS depends, to_json(provides) AS provides
FROM arch_pkgs
""",
)
def q_pkg_archindex(spark, sf_dir):
    """Third repo-index format: Arch-style `desc` blocks (%KEY% sections,
    multi-line DEPENDS/PROVIDES) normalized into the same package schema as
    APKINDEX and Debian Packages — the multi-distro ingestion surface that
    was pkg2's core. Whole-file read → block explode → regexp sections;
    array outputs JSON-serialized at the boundary."""
    eng = Engine(spark)
    p = eng.ingest_archdesc(_ARCHDESC_PATH)
    return p.select(
        "name",
        "version",
        "arch",
        "size",
        F.to_json("depends").alias("depends"),
        F.to_json("provides").alias("provides"),
    )


@query(
    "q_pkg_revdeps",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()},
providers AS (
  SELECT DISTINCT capability, provider FROM (
    SELECT name AS provider,
           unnest(list_concat([name],
             list_transform(provides, x -> string_split(x, '=')[1]))) AS capability
    FROM apk_pkgs
  )
),
deps AS (
  SELECT name AS dependent, unnest(depends) AS capability FROM apk_pkgs
),
edges AS (
  SELECT DISTINCT dependent, provider FROM deps JOIN providers USING (capability)
)
SELECT provider,
       CAST(count(*) AS BIGINT) AS n_dependents,
       min(dependent) AS first_dependent
FROM edges GROUP BY provider
""",
)
def q_pkg_revdeps(spark, sf_dir):
    """Reverse-dependency degrees (whatdepends across the whole index): for
    every provider, how many packages' depends resolve to it through the
    provides map — pkg2's reverse lookup surface (Engine.whatdepends is the
    single-package form). A hash aggregate over the engine's distinct
    (dependent, provider) edges (Engine.package_edges — the one provider
    join); at a real repo scale every stage is key-partitioned."""
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    return eng.package_edges().groupBy(F.col("dst").alias("provider")).agg(
        F.count(F.lit(1)).alias("n_dependents"),
        F.min("src").alias("first_dependent"),
    )


_RPMPRIMARY_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "rpmprimary_sample.xml")

# RPM repodata primary.xml parse as DuckDB CTEs (mirrors Engine.ingest_rpm_primary)
_RPM_PKGS_CTE = f"""
rpm_blocks AS (
  SELECT unnest(string_split(content, '</package>')) AS blk
  FROM read_text('{_RPMPRIMARY_PATH}')
),
rpm_pkgs AS (
  SELECT
    regexp_extract(blk, '<name>([^<]+)</name>', 1) AS name,
    CASE WHEN regexp_extract(blk, '<version[^>]*ver="([^"]+)"', 1) = '' THEN ''
         ELSE CASE WHEN regexp_extract(blk, '<version[^>]*epoch="([0-9]+)"', 1) NOT IN ('', '0')
                   THEN regexp_extract(blk, '<version[^>]*epoch="([0-9]+)"', 1) || ':'
                   ELSE '' END
              || regexp_extract(blk, '<version[^>]*ver="([^"]+)"', 1)
              || CASE WHEN regexp_extract(blk, '<version[^>]*rel="([^"]+)"', 1) <> ''
                      THEN '-' || regexp_extract(blk, '<version[^>]*rel="([^"]+)"', 1)
                      ELSE '' END
    END AS version,
    regexp_extract(blk, '<arch>([^<]+)</arch>', 1) AS arch,
    CAST(regexp_extract(blk, '<size package="([0-9]+)"', 1) AS BIGINT) AS size,
    list_sort(regexp_extract_all(
      regexp_extract(blk, '(?s)<rpm:requires>(.*?)</rpm:requires>', 1),
      'name="([^"]+)"', 1)) AS depends,
    list_sort(regexp_extract_all(
      regexp_extract(blk, '(?s)<rpm:provides>(.*?)</rpm:provides>', 1),
      'name="([^"]+)"', 1)) AS provides,
    list_sort(regexp_extract_all(
      regexp_extract(blk, '(?s)<rpm:conflicts>(.*?)</rpm:conflicts>', 1),
      'name="([^"]+)"', 1)) AS conflicts
  FROM rpm_blocks WHERE blk LIKE '%<name>%'
)
"""


@query(
    "q_pkg_rpmindex",
    oracle=f"""
WITH {_RPM_PKGS_CTE.strip()}
SELECT name, version, arch, size,
       to_json(depends) AS depends, to_json(provides) AS provides
FROM rpm_pkgs
""",
)
def q_pkg_rpmindex(spark, sf_dir):
    """Fourth repo-index format: RPM repodata primary.xml (Fedora/RHEL),
    completing pkg2's multi-distro ingestion surface (SURVEY.md §1.1
    [Tier C]: APKINDEX, Debian Packages, RPM repodata, Arch desc). Same
    whole-file -> record explode -> regexp extraction shape as the other
    three; requires/provides sections flattened into sorted capability
    arrays, JSON-serialized at the output boundary."""
    eng = Engine(spark)
    p = eng.ingest_rpm_primary(_RPMPRIMARY_PATH)
    return p.select(
        "name",
        "version",
        "arch",
        "size",
        F.to_json("depends").alias("depends"),
        F.to_json("provides").alias("provides"),
    )


@query(
    "q_pkg_conflicts",
    oracle=f"""
WITH {_RPM_PKGS_CTE.strip()},
providers AS (
  SELECT DISTINCT capability, provider FROM (
    SELECT name AS provider,
           unnest(list_concat([name], provides)) AS capability
    FROM rpm_pkgs
  )
),
declared AS (
  SELECT name AS pkg, unnest(conflicts) AS capability FROM rpm_pkgs
)
SELECT DISTINCT d.pkg, p.provider AS conflicts_with, d.capability
FROM declared d JOIN providers p USING (capability)
WHERE p.provider <> d.pkg
""",
)
def q_pkg_conflicts(spark, sf_dir):
    """Explicit-conflict resolution: each declared Conflicts capability is
    resolved through the provides map to the concrete packages it collides
    with — the install-time safety check a package manager runs before a
    transaction (the dual of q_pkg_resolve's depends walk). One explode per
    side + an equi-join on capability; at a real repo scale both sides are
    capability-partitioned."""
    eng = Engine(spark)
    p = eng.ingest_rpm_primary(_RPMPRIMARY_PATH)
    providers = p.select(
        F.explode(
            F.array_union(F.array(F.col("name")), F.col("provides"))
        ).alias("capability"),
        F.col("name").alias("provider"),
    ).distinct()
    declared = p.select(
        F.col("name").alias("pkg"), F.explode("conflicts").alias("capability")
    )
    return (
        declared.join(providers, "capability")
        .filter(F.col("provider") != F.col("pkg"))
        .select("pkg", F.col("provider").alias("conflicts_with"), "capability")
        .distinct()
    )


@query(
    "q_pkg_search",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()},
{_DEB_PKGS_CTE.strip()},
{_ARCH_PKGS_CTE.strip()},
{_RPM_PKGS_CTE.strip()},
allpkgs AS (
  SELECT 'alpine' AS distro, name, version, arch FROM apk_pkgs
  UNION ALL SELECT 'debian', name, version, arch FROM deb_pkgs
  UNION ALL SELECT 'arch', name, version, arch FROM arch_pkgs
  UNION ALL SELECT 'fedora', name, version, arch FROM rpm_pkgs
)
SELECT 'exact' AS mode, distro, name, version, arch
FROM allpkgs WHERE name = 'openssl'
UNION ALL
SELECT 'prefix', distro, name, version, arch
FROM allpkgs WHERE name LIKE 'lib%'
UNION ALL
SELECT 'wildcard', distro, name, version, arch
FROM allpkgs WHERE name LIKE '%ssl%' AND arch IN ('x86_64', 'amd64')
""",
)
def q_pkg_search(spark, sf_dir):
    """pkg2's flagship interactive query: exact / prefix / wildcard package
    search with a distro/arch filter, federated over all four normalized
    index formats (SURVEY.md §1.1 [Tier C]). The shared schema is what makes
    this a single filter over a union — at real scale the union is a
    partitioned table keyed by (distro, arch) and each predicate is a
    partition-prunable scan, not four bespoke parsers per query."""
    eng = Engine(spark)

    def norm(df, distro):
        # project to the shared search columns BEFORE the union — formats may
        # carry format-specific extras (e.g. RPM conflicts)
        return df.select(
            F.lit(distro).alias("distro"), "name", "version", "arch"
        )

    allpkgs = (
        norm(eng.ingest_apkindex(_APKINDEX_PATH), "alpine")
        .unionByName(norm(eng.ingest_debian_packages(_PACKAGES_PATH), "debian"))
        .unionByName(norm(eng.ingest_archdesc(_ARCHDESC_PATH), "arch"))
        .unionByName(norm(eng.ingest_rpm_primary(_RPMPRIMARY_PATH), "fedora"))
    )
    exact = allpkgs.filter(F.col("name") == "openssl").select(
        F.lit("exact").alias("mode"), "distro", "name", "version", "arch"
    )
    prefix = allpkgs.filter(F.col("name").like("lib%")).select(
        F.lit("prefix").alias("mode"), "distro", "name", "version", "arch"
    )
    wildcard = allpkgs.filter(
        F.col("name").like("%ssl%") & F.col("arch").isin("x86_64", "amd64")
    ).select(F.lit("wildcard").alias("mode"), "distro", "name", "version", "arch")
    return exact.unionAll(prefix).unionAll(wildcard)


@query(
    "q_pkg_version_order",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()}
SELECT name, version, {_VKEY_SQL.format(c="version")} AS vkey
FROM apk_pkgs
""",
)
def q_pkg_version_order(spark, sf_dir):
    eng = Engine(spark)
    p = eng.ingest_apkindex(_APKINDEX_PATH)
    return p.select("name", "version", version_key(F.col("version")).alias("vkey"))


@query(
    "q_pkg_outdated",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()},
{_DEB_PKGS_CTE.strip()},
{_ARCH_PKGS_CTE.strip()},
{_RPM_PKGS_CTE.strip()},
allpkgs AS (
  SELECT 'alpine' AS distro, name, version FROM apk_pkgs
  UNION ALL SELECT 'debian', name, version FROM deb_pkgs
  UNION ALL SELECT 'arch', name, version FROM arch_pkgs
  UNION ALL SELECT 'fedora', name, version FROM rpm_pkgs
),
keyed AS (
  SELECT distro, name, version,
         {_VKEY_SQL.format(c="version")} AS vkey
  FROM allpkgs
),
newest AS (
  SELECT name, version AS fixed_version, vkey AS fixed_vkey FROM keyed
  QUALIFY row_number() OVER (
    PARTITION BY name
    ORDER BY vkey DESC NULLS LAST, version DESC NULLS LAST, distro ASC NULLS LAST
  ) = 1
)
SELECT k.distro, k.name, k.version, n.fixed_version
FROM keyed k JOIN newest n ON k.name = n.name
WHERE k.vkey < n.fixed_vkey
""",
)
def q_pkg_outdated(spark, sf_dir):
    """Cross-distro outdated-package scan (the operational core of a
    vulnerability sweep: "which installed builds are older than the newest
    known build of that package anywhere"): federate all four index
    formats, compute the numeric-aware version sort key, take the max per
    package name, and flag every (distro, version) strictly below it.

    The version INEQUALITY rides entirely on the zero-padded numeric key
    (engine.py::version_key — the q_pkg_latest semantics), so 1.1.10 sorts
    above 1.1.9 and a real advisory feed slots in by replacing `newest`
    with (name, fixed_version) rows. One window per name + one broadcast
    join back; at repo scale both are keyed by package name."""
    eng = Engine(spark)

    def norm(df, distro):
        return df.select(F.lit(distro).alias("distro"), "name", "version")

    allpkgs = (
        norm(eng.ingest_apkindex(_APKINDEX_PATH), "alpine")
        .unionByName(norm(eng.ingest_debian_packages(_PACKAGES_PATH), "debian"))
        .unionByName(norm(eng.ingest_archdesc(_ARCHDESC_PATH), "arch"))
        .unionByName(norm(eng.ingest_rpm_primary(_RPMPRIMARY_PATH), "fedora"))
    )
    keyed = allpkgs.select(
        "distro", "name", "version", version_key(F.col("version")).alias("vkey")
    )
    w = Window.partitionBy("name").orderBy(
        F.col("vkey").desc_nulls_last(),
        F.col("version").desc_nulls_last(),
        F.col("distro").asc_nulls_last(),
    )
    newest = (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("name").alias("n2"),
            F.col("version").alias("fixed_version"),
            F.col("vkey").alias("fixed_vkey"),
        )
    )
    return (
        keyed.join(F.broadcast(newest), keyed["name"] == F.col("n2"))
        .filter(F.col("vkey") < F.col("fixed_vkey"))
        .select("distro", "name", "version", "fixed_version")
    )


_ALL_FORMATS_ORACLE = f"""
WITH {_APK_PKGS_CTE.strip()},
{_DEB_PKGS_CTE.strip()},
{_RPM_PKGS_CTE.strip()},
{_ARCH_PKGS_CTE.strip()}
SELECT 'alpine' AS distro, name, version, arch,
       to_json(depends) AS depends, to_json(provides) AS provides
FROM apk_pkgs
UNION ALL
SELECT 'debian', name, version, arch, to_json(depends), '[]'
FROM deb_pkgs
UNION ALL
SELECT 'fedora', name, version, arch, to_json(depends), to_json(provides)
FROM rpm_pkgs
UNION ALL
SELECT 'arch', name, version, arch, to_json(depends), to_json(provides)
FROM arch_pkgs
"""


@query("q_pkg_gzindex", oracle=_ALL_FORMATS_ORACLE)
def q_pkg_gzindex(spark, sf_dir):
    """Compressed fetch-cache ingestion — pkg2's real input shape: repo
    indexes arrive as COMPRESSED archives in a local fetch cache
    (reference/.vscode/settings.json:9 excludes `**/local/cache/**` from
    the watcher), not as pre-inflated text. The fixture builds that cache
    deterministically (APKINDEX.tar.gz — tarball member, the Alpine wire
    format — and Packages.gz — bare gzip, the Debian wire format); the
    engine ingests it through Engine.ingest_index_cache: one binaryFile
    scan, a mapInPandas inflate stage (stdlib gzip/tarfile, bounded per
    archive, shuffle-free), then the SAME normalized projections as the
    plaintext ingest paths. The oracle parses the UNCOMPRESSED committed
    samples — matching proves the decompress+parse pipeline is
    byte-faithful end to end."""
    cache = _ensure_gz_cache(sf_dir)
    eng = Engine(spark)
    pkgs = eng.ingest_index_cache(cache)
    return pkgs.select(
        "distro", "name", "version", "arch",
        F.to_json("depends").alias("depends"),
        F.to_json("provides").alias("provides"),
    )


_GZ_CACHE_FILES = ["APKINDEX.tar.gz", "Packages.gz", "primary.xml.gz", "core.db.tar.gz"]


def _ensure_gz_cache(sf_dir: str) -> str:
    """Deterministic compressed-index cache fixture (all four wire formats),
    shared by q_pkg_gzindex (direct ingest) and q_pkg_fetch (as the
    'remote repo' a file:// fetch pulls from)."""
    import gzip
    import io
    import shutil
    import tarfile

    from pkg2_spark.queries.relational import fixture_path, fixture_ready

    cache = fixture_path("pkg_index_cache", sf_dir)
    if not fixture_ready(cache, sf_dir) or not all(
        os.path.exists(os.path.join(cache, f)) for f in _GZ_CACHE_FILES
    ):
        shutil.rmtree(cache, ignore_errors=True)
        os.makedirs(cache, exist_ok=True)

        def tar_gz(members):
            # mtime/uid/gid pinned to zero: the fixture archive is
            # bit-stable across builds, so fixture_ready reuse is safe.
            buf = io.BytesIO()
            with tarfile.open(fileobj=buf, mode="w") as tf:
                for mname, data in members:
                    ti = tarfile.TarInfo(mname)
                    ti.size = len(data)
                    ti.mtime = 0
                    tf.addfile(ti, io.BytesIO(data))
            return gzip.compress(buf.getvalue(), mtime=0)

        with open(os.path.join(cache, "APKINDEX.tar.gz"), "wb") as f:
            f.write(tar_gz([("APKINDEX", open(_APKINDEX_PATH, "rb").read())]))
        with open(os.path.join(cache, "Packages.gz"), "wb") as f:
            f.write(gzip.compress(open(_PACKAGES_PATH, "rb").read(), mtime=0))
        with open(os.path.join(cache, "primary.xml.gz"), "wb") as f:
            f.write(gzip.compress(open(_RPMPRIMARY_PATH, "rb").read(), mtime=0))
        # pacman sync DB: one desc member per package, exactly the wire
        # layout (core.db.tar.gz); blocks from the concatenated sample.
        blocks = [
            b for b in open(_ARCHDESC_PATH).read().split("%FILENAME%")
            if b.strip()
        ]
        with open(os.path.join(cache, "core.db.tar.gz"), "wb") as f:
            f.write(tar_gz([
                (f"pkg{i}/desc", ("%FILENAME%" + b).encode())
                for i, b in enumerate(blocks)
            ]))
        open(os.path.join(cache, "_SUCCESS"), "w").close()
    return cache


@query("q_pkg_fetch", oracle=_ALL_FORMATS_ORACLE)
def q_pkg_fetch(spark, sf_dir):
    """The FETCH lifecycle stage ahead of the cache ingest — pkg2 filled its
    local index cache over HTTP (reference/.vscode/settings.json:9 excludes
    `**/local/cache/**`); Engine.fetch_to_cache is that stage with a
    transport-agnostic urllib fetch: file:// in this sandbox (no network),
    http(s):// at deploy through the SAME code path. The round trip
    checked here: the gz fixture cache plays the 'remote repo', its four
    archives are fetched by URL into a FRESH cache directory (atomic
    tmp+rename per file, gzip-magic validation), and ingest_index_cache
    over the fetched copy must parse every package against the
    four-format plaintext oracle — proving fetch is byte-faithful."""
    from pkg2_spark.engine import Engine as _Engine
    from pkg2_spark.queries.relational import fixture_path

    remote = _ensure_gz_cache(sf_dir)
    urls = [f"file://{os.path.join(remote, f)}" for f in _GZ_CACHE_FILES]
    fetched_dir = fixture_path("pkg_fetched_cache", sf_dir)
    # FRESH, as promised: a manifest an earlier fetch from other URLs left
    # would make these archives land again under hashed names.
    shutil.rmtree(fetched_dir, ignore_errors=True)
    eng = _Engine(spark)
    eng.fetch_to_cache(urls, fetched_dir)
    pkgs = eng.ingest_index_cache(fetched_dir)
    return pkgs.select(
        "distro", "name", "version", "arch",
        F.to_json("depends").alias("depends"),
        F.to_json("provides").alias("provides"),
    )


_MULTIVER_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "packages_multiver_sample.txt")


@query(
    "q_pkg_resolve_constrained",
    oracle=f"""
WITH RECURSIVE
mv_stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{_MULTIVER_PATH}')
),
mv_pkgs AS (
  SELECT
    regexp_extract(stanza, 'Package: ([^\\n]+)', 1) AS name,
    regexp_extract(stanza, 'Version: ([^\\n]+)', 1) AS version,
    regexp_extract(stanza, 'Depends: ([^\\n]+)', 1) AS deps_raw
  FROM mv_stanzas WHERE trim(stanza) <> ''
),
atoms AS (
  SELECT name AS src_name, version AS src_version,
         trim(split_part(atom, '(', 1)) AS dep_name,
         CASE regexp_extract(atom, '\\(\\s*([<>=]+)\\s*', 1)
           WHEN '>' THEN '>=' WHEN '<' THEN '<='
           ELSE regexp_extract(atom, '\\(\\s*([<>=]+)\\s*', 1) END AS op,
         trim(regexp_extract(atom, '\\(\\s*[<>=]+\\s*([^)]+)\\)', 1)) AS dver
  FROM (
    SELECT name, version,
           unnest(list_filter(list_transform(string_split(deps_raw, ', '), x -> trim(x)), x -> x <> '')) AS atom
    FROM mv_pkgs
  )
),
edges AS (
  SELECT DISTINCT a.src_name, a.src_version, p.name AS dst_name, p.version AS dst_version
  FROM atoms a JOIN mv_pkgs p ON p.name = a.dep_name
  WHERE a.op = ''
     OR (a.op = '>=' AND {_VKEY_SQL.format(c="p.version")} >= {_VKEY_SQL.format(c="a.dver")})
     OR (a.op = '<=' AND {_VKEY_SQL.format(c="p.version")} <= {_VKEY_SQL.format(c="a.dver")})
     OR (a.op = '='  AND {_VKEY_SQL.format(c="p.version")} =  {_VKEY_SQL.format(c="a.dver")})
     OR (a.op = '>>' AND {_VKEY_SQL.format(c="p.version")} >  {_VKEY_SQL.format(c="a.dver")})
     OR (a.op = '<<' AND {_VKEY_SQL.format(c="p.version")} <  {_VKEY_SQL.format(c="a.dver")})
),
reach(name, version, depth) AS (
  SELECT dst_name, dst_version, 1 FROM edges WHERE src_name = 'webapp'
  UNION
  SELECT e.dst_name, e.dst_version, r.depth + 1
  FROM reach r JOIN edges e ON e.src_name = r.name AND e.src_version = r.version
  WHERE r.depth < 10
)
SELECT name, version, CAST(min(depth) AS INTEGER) AS depth
FROM reach GROUP BY name, version
""",
)
def q_pkg_resolve_constrained(spark, sf_dir):
    """Constraint-aware dependency resolution — the pkg2 resolver's real
    semantics (SURVEY.md §1.1 [Tier C]): a depends atom 'libweb (>= 1.4)'
    selects only the available VERSIONS satisfying the constraint under
    numeric-aware version ordering, instead of treating depends as bare
    names. The multi-version fixture makes the difference observable: the
    closure from 'webapp' must include libweb 1.4-2/1.5-1 but NOT 1.2-1,
    exactly one librt under an '=' pin, no tlslib at all (its only version
    fails '>= 1.1'), and zlib1 2.1-1 via the unconstrained libweb 1.4-2
    edge while libweb 1.5-1's '<< 2.0' admits only 1.9-1. Oracle: the same
    parse + WITH RECURSIVE closure with the identical zero-padded
    version-key comparison. Engine side: Engine.resolve_constrained — one
    name-keyed equi-join builds version-level edges, then the closure
    kernel shared with Engine.resolve (graph_ops.reachability)."""
    eng = Engine(spark)
    eng.ingest_debian_packages(_MULTIVER_PATH)
    out = eng.resolve_constrained("webapp", max_depth=10)
    return out.groupBy("name", "version").agg(
        F.min("depth").cast("int").alias("depth")
    )


_MALFORMED_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "apkindex_malformed_sample.txt")


@query(
    "q_pkg_quarantine",
    oracle=f"""
WITH mal_stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{_MALFORMED_PATH}')
),
cls AS (
  SELECT CASE
    WHEN NOT regexp_matches(stanza, '(?m)^P:.+') THEN 'missing_name'
    WHEN NOT regexp_matches(stanza, '(?m)^V:.+') THEN 'missing_version'
    WHEN regexp_matches(stanza, '(?m)^S:')
         AND NOT regexp_matches(stanza, '(?m)^S:[0-9]+$') THEN 'bad_size'
    ELSE 'ok' END AS reason
  FROM mal_stanzas WHERE trim(stanza) <> ''
)
SELECT reason, count(*) AS n FROM cls GROUP BY reason
""",
)
def q_pkg_quarantine(spark, sf_dir):
    """Ingestion quarantine ledger — the classification counts a real index
    pipeline tracks when upstream repos drift (q_src_corrupt's pattern
    applied to the stanza parsers): a malformed-APKINDEX fixture with
    missing P:/V: keys, a truncated block, and a non-numeric size is
    classified per stanza by Engine.audit_apkindex; only 'ok' stanzas are
    eligible for ingestion. First-match-wins classification makes the
    counts deterministic; the oracle reruns the same rules in SQL."""
    eng = Engine(spark)
    return (
        eng.audit_apkindex(_MALFORMED_PATH)
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_COLLECTION_PATH = os.path.join(_REPO_DIR, "pkg2_spark", "data", "collection_sample.json")


@query(
    "q_pkg_collection",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()},
{_DEB_PKGS_CTE.strip()},
{_ARCH_PKGS_CTE.strip()},
{_RPM_PKGS_CTE.strip()},
allp AS (
  SELECT 'alpine' AS distro, arch, depends FROM apk_pkgs
  UNION ALL SELECT 'debian', arch, depends FROM deb_pkgs
  UNION ALL SELECT 'arch', arch, depends FROM arch_pkgs
  UNION ALL SELECT 'fedora', arch, depends FROM rpm_pkgs
)
SELECT distro, count(*) AS n_pkgs,
       CAST(count(DISTINCT arch) AS BIGINT) AS n_arches,
       CAST(sum(len(depends)) AS BIGINT) AS n_dep_edges
FROM allp GROUP BY distro
""",
)
def q_pkg_collection(spark, sf_dir):
    """Declarative collection ingestion end-to-end — pkg2 defined its
    source collections as Starlark data (reference/.vscode/settings.json:2-4
    wires *.star files), not code; Engine.ingest_collection is the analog:
    a JSON config lists {distro, format, path} sources and the engine
    dispatches each to its parser, unioning into one distro-tagged
    normalized table. The query emits the per-distro ingestion summary
    (package count, arch spread, dependency edges); the oracle re-parses
    all four formats directly. Adding a repo to the engine is a config
    edit — the operational property this gate protects."""
    eng = Engine(spark)
    pkgs = eng.ingest_collection(_COLLECTION_PATH)
    return pkgs.groupBy("distro").agg(
        F.count(F.lit(1)).alias("n_pkgs"),
        F.countDistinct("arch").alias("n_arches"),
        F.sum(F.size("depends")).alias("n_dep_edges"),
    )


_COLLECTION_STAR_PATH = _COLLECTION_PATH.replace(".json", ".star")


@query(
    "q_pkg_collection_star",
    oracle=f"""
WITH {_APK_PKGS_CTE.strip()},
{_DEB_PKGS_CTE.strip()},
{_ARCH_PKGS_CTE.strip()},
{_RPM_PKGS_CTE.strip()},
allp AS (
  SELECT 'alpine' AS distro, arch, depends FROM apk_pkgs
  UNION ALL SELECT 'debian', arch, depends FROM deb_pkgs
  UNION ALL SELECT 'arch', arch, depends FROM arch_pkgs
  UNION ALL SELECT 'fedora', arch, depends FROM rpm_pkgs
)
SELECT distro, count(*) AS n_pkgs,
       CAST(count(DISTINCT arch) AS BIGINT) AS n_arches,
       CAST(sum(len(depends)) AS BIGINT) AS n_dep_edges
FROM allp GROUP BY distro
""",
)
def q_pkg_collection_star(spark, sf_dir):
    """Collection ingestion from a STARLARK definition — pkg2's actual
    config language (reference/.vscode/settings.json:2-4 wires *.star to
    starlark). collection_sample.star defines the same four sources as
    the JSON sample, composed the idiomatic Starlark way (per-source
    dicts bound to names, source lists concatenated with +); the
    restricted evaluator (Engine._eval_starlark_config — literal
    assignments only, a pure AST walk with no code execution) feeds the
    identical dispatch as q_pkg_collection, so the oracle is the same
    four-format re-parse. Language parity with pkg2's .star configs,
    with the injection-safety a service-embedded config reader needs."""
    eng = Engine(spark)
    pkgs = eng.ingest_collection(_COLLECTION_STAR_PATH)
    return pkgs.groupBy("distro").agg(
        F.count(F.lit(1)).alias("n_pkgs"),
        F.countDistinct("arch").alias("n_arches"),
        F.sum(F.size("depends")).alias("n_dep_edges"),
    )


_APKINDEX_V2_PATH = os.path.join(
    _REPO_DIR, "pkg2_spark", "data", "apkindex_v2_sample.txt"
)


def _apk_nva_cte(path: str, prefix: str) -> str:
    """APKINDEX (name, version, arch) parse CTE pair for a given snapshot
    file — the minimal projection q_pkg_delta's oracle needs, one instance
    per snapshot."""
    return f"""
{prefix}_stanzas AS (
  SELECT unnest(string_split(content, chr(10) || chr(10))) AS stanza
  FROM read_text('{path}')
),
{prefix}_pkgs AS (
  SELECT
    regexp_extract(stanza, 'P:([^\\n]+)', 1) AS name,
    regexp_extract(stanza, 'V:([^\\n]+)', 1) AS version,
    regexp_extract(stanza, 'A:([^\\n]+)', 1) AS arch
  FROM {prefix}_stanzas WHERE trim(stanza) <> ''
)
"""


_OLD_VKEY = _VKEY_SQL.format(c="old_version")
_NEW_VKEY = _VKEY_SQL.format(c="new_version")


@query(
    "q_pkg_delta",
    oracle=f"""
WITH {_apk_nva_cte(_APKINDEX_PATH, "snap_a").strip()},
{_apk_nva_cte(_APKINDEX_V2_PATH, "snap_b").strip()},
old_latest AS (
  SELECT name, arch, version AS old_version FROM snap_a_pkgs
  QUALIFY row_number() OVER (
    PARTITION BY name, arch
    ORDER BY {_VKEY_SQL.format(c="version")} DESC, version DESC) = 1
),
new_latest AS (
  SELECT name, arch, version AS new_version FROM snap_b_pkgs
  QUALIFY row_number() OVER (
    PARTITION BY name, arch
    ORDER BY {_VKEY_SQL.format(c="version")} DESC, version DESC) = 1
),
classified AS (
  SELECT name, arch, old_version, new_version,
    CASE
      WHEN old_version IS NULL THEN 'added'
      WHEN new_version IS NULL THEN 'removed'
      WHEN old_version = new_version THEN 'unchanged'
      WHEN {_NEW_VKEY} > {_OLD_VKEY}
        OR ({_NEW_VKEY} = {_OLD_VKEY} AND new_version > old_version)
        THEN 'upgraded'
      ELSE 'downgraded'
    END AS change
  FROM old_latest FULL JOIN new_latest USING (name, arch)
)
SELECT name, arch, old_version, new_version, change
FROM classified WHERE change <> 'unchanged'
""",
)
def q_pkg_delta(spark, sf_dir):
    """Index-snapshot delta — CDC applied to the package domain (the
    q_cdc_* treatment on pkg2's own data): diff two temporal snapshots of
    one repository's APKINDEX into the added/removed/upgraded/downgraded
    change feed a mirror sync or vulnerability scanner consumes. Each side
    reduces to latest-per-(name, arch) first (indexes legitimately carry
    multiple builds), then one full-outer equi-join classifies via the
    numeric-aware version key (1.37.0-r1 > 1.36.1-r5 numerically, not
    lexically). Complements q_pkg_outdated (cross-distro, same instant)
    with the within-repo, across-time axis. Scale: both windows and the
    join are keyed by (name, arch) — map-combinable, broadcast-free."""
    eng = Engine(spark)
    old = eng.ingest_apkindex(_APKINDEX_PATH)
    new = eng.ingest_apkindex(_APKINDEX_V2_PATH)
    return eng.index_delta(old, new)


_ADVISORIES_PATH = os.path.join(
    _REPO_DIR, "pkg2_spark", "data", "advisories_sample.json"
)

_PKG_VKEY = _VKEY_SQL.format(c="version")
_FIX_VKEY = _VKEY_SQL.format(c="fixed_version")


@query(
    "q_pkg_advisories",
    oracle=f"""
WITH {_apk_nva_cte(_APKINDEX_PATH, "snap").strip()},
adv AS (
  SELECT cve, name, fixed_version
  FROM read_json('{_ADVISORIES_PATH}', format='array',
                 columns={{'cve': 'VARCHAR', 'name': 'VARCHAR',
                           'fixed_version': 'VARCHAR'}})
)
SELECT p.name, p.arch, p.version, a.cve, a.fixed_version,
       CASE WHEN a.fixed_version IS NULL THEN 'unfixed'
            WHEN {_PKG_VKEY} < {_FIX_VKEY}
              OR ({_PKG_VKEY} = {_FIX_VKEY} AND p.version < a.fixed_version)
            THEN 'vulnerable' ELSE 'patched' END AS status
FROM snap_pkgs p JOIN adv a USING (name)
""",
)
def q_pkg_advisories(spark, sf_dir):
    """Security-advisory audit — the secdb consumer a distro mirror runs
    per sync (pkg2's domain: Alpine publishes exactly this {package,
    fixed-version} feed): every installed build of an advised package is
    classified vulnerable/patched by comparing its version to the
    advisory's fixed_version on the numeric-aware key (3.0.10-r0 <
    3.1.0-r0 numerically; raw-string tiebreak for equal keys). One row
    per (build × advisory): openssl carries TWO advisories, so one
    installed build can be patched against one CVE and vulnerable to the
    next — the per-cell verdict an auditor wants. A null fixed_version
    (advisory published, no fix released — Alpine secdb's '0'/absent
    shape) is a distinct 'unfixed' status: it must NOT fall through to
    'patched' when the version comparison evaluates to NULL.

    Scale: bounded advisory feed broadcast against the arbitrarily-large
    package table; row-local classification (Engine.match_advisories)."""
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    return eng.match_advisories(_ADVISORIES_PATH)


@query(
    "q_pkg_blast_radius",
    oracle=f"""
WITH RECURSIVE {_APK_PKGS_CTE.strip()},
providers AS (
  SELECT DISTINCT capability, provider FROM (
    SELECT name AS provider,
           unnest(list_concat([name],
             list_transform(provides, x -> string_split(x, '=')[1]))) AS capability
    FROM apk_pkgs
  )
),
deps AS (
  SELECT name AS dependent, unnest(depends) AS capability FROM apk_pkgs
),
edges AS (
  SELECT DISTINCT dependent, provider FROM deps JOIN providers USING (capability)
),
adv AS (
  SELECT cve, name, fixed_version
  FROM read_json('{_ADVISORIES_PATH}', format='array',
                 columns={{'cve': 'VARCHAR', 'name': 'VARCHAR',
                           'fixed_version': 'VARCHAR'}})
),
vuln AS (
  SELECT DISTINCT a.cve, p.name AS pkg
  FROM apk_pkgs p JOIN adv a USING (name)
  WHERE a.fixed_version IS NULL
     OR {_PKG_VKEY} < {_FIX_VKEY}
     OR ({_PKG_VKEY} = {_FIX_VKEY} AND p.version < a.fixed_version)
),
reach(cve, pkg, depth) AS (
  SELECT cve, pkg, 0 FROM vuln
  UNION
  SELECT r.cve, e.dependent, r.depth + 1
  FROM reach r JOIN edges e ON e.provider = r.pkg
  WHERE r.depth < 5
)
SELECT cve,
       CAST(count(DISTINCT pkg) AS BIGINT) AS n_affected,
       min(pkg) AS first_affected
FROM reach GROUP BY cve
""",
)
def q_pkg_blast_radius(spark, sf_dir):
    """Advisory BLAST RADIUS — the transitive impact analysis a distro
    security team runs on every CVE: starting from each advisory's
    still-vulnerable/unfixed builds (the q_pkg_advisories verdicts),
    walk the REVERSE dependency graph (dependent → provider edges
    through the provides capability map, the q_pkg_revdeps projection)
    to a depth-5 fixpoint — every package whose install closure contains
    a vulnerable build is in the radius, including the vulnerable
    package itself at depth 0. Composes three proven pieces (advisory
    classification, capability resolution, semi-naïve BFS with lineage
    truncation) into the query none of them answers alone.

    Scale: per round one equi-join of the frontier against the edge
    table keyed on the provider name + an anti-join against the
    accumulated set (graph_ops.reachability grouped by cve, state =
    reached (cve, pkg) pairs only); the advisory seed is bounded and the
    depth cap mirrors the oracle's recursion guard."""
    eng = Engine(spark)
    eng.ingest_apkindex(_APKINDEX_PATH)
    vuln = (
        eng.match_advisories(_ADVISORIES_PATH)
        .filter(F.col("status") != "patched")
        .select("cve", F.col("name").alias("pkg"))
    )
    # Reverse edges: from a provider to the packages that depend on it.
    affected = reachability(
        eng.package_edges(), "dst", "src", vuln,
        group="cve", node="pkg", start_depth=0, max_depth=5,
    )
    return affected.groupBy("cve").agg(
        F.countDistinct("pkg").cast("long").alias("n_affected"),
        F.min("pkg").alias("first_affected"),
    )
