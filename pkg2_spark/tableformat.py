"""Minimal ACID table format over parquet — a Delta-style ordered JSON log.

The reference's CDC / time-travel surface (SURVEY.md §2.12b: snapshot
diff, merge, incremental view maintenance) ran over snapshot parquet
directories; a 100 TB deployment wants those dataflows bound to a real
table format with a commit protocol. This module is that binding,
Spark-first and object-store-shaped:

Layout::

    <table>/
      _log/00000000000000000001.json    one JSON commit per version
      data/v1-<uuid>/part-*.parquet     immutable, per-commit data dirs

Protocol:

- **Commit = atomic exclusive create** of the next version's log file
  (``O_CREAT | O_EXCL``). Two writers racing to version v: exactly one
  create succeeds, the loser re-reads the log and retries against v+1 —
  the optimistic-concurrency primitive every log-structured table format
  uses (object stores substitute put-if-absent; the log is the only
  thing ever contended, data files are write-once under unique names).
- **Readers never list data directories.** A snapshot at version v is
  the fold of each commit's ``add``/``remove`` file lists up to v, so
  reads are immune to in-flight writers, partial writes, and
  eventually-consistent listings; uncommitted data dirs are invisible.
- **Data files are immutable**, so time travel is free (old versions
  keep referencing old files until ``vacuum``), and file-level equality
  between snapshots means ROW-level equality — the CDC fast path below.
- **Per-file column stats ride in the log** (min/max per requested
  column, read once from the parquet footers at commit time — the
  Delta data-skipping design). ``merge`` prunes its copy-on-write
  rewrite to files whose stat range intersects the touched keys; with
  writes clustered on the merge key (``repartition(key)`` before
  ``write``), stats-pruning degenerates to partition pruning without
  hive-style directory coupling.

One core, two adapters: every reader and writer — the ``Table`` API
here and the ``pkg2acid`` Python Data Source (acid_datasource.py) —
folds the log through ONE walk (``_fold`` → ``Snapshot``), prunes with
ONE stats predicate (``stats_may_match``) and commits through ONE retry
loop (``_commit_retrying``).

Scale posture: the log is O(commits) tiny JSON; folding it is
driver-side metadata work (exactly the metadata layer Delta/Iceberg
pay), and every data-path operation is a plain Spark job over parquet —
pushdown, AQE, and codegen all apply unchanged. Nothing here collects
table data to the driver.
"""

from __future__ import annotations

import dataclasses
import json
import os
import uuid
from dataclasses import dataclass
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

from pkg2_spark.session import local_rows_df

_LOG_FMT = "{:020d}.json"
# Attempts of the one commit-retry loop (_commit_retrying) before a writer
# gives up; four threads racing three appends each need at most 11.
COMMIT_ATTEMPTS = 20


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first — refold and retry."""


class RestorePoisonedError(FileNotFoundError):
    """A concurrent vacuum reaped the restore target's data files AFTER
    the restore commit had already won the log race (restore's
    check-then-commit window). Before raising, restore() auto-commits a
    compensating metadata-only restore back to the pre-restore head, so
    the table never serves an unreadable head and a caller that catches
    and retries restore(version) does not stack poisoned heads (r12
    advice). The versions are attached for programmatic recovery:
    ``poisoned_version`` (the committed-but-unreadable restore) and
    ``compensated_version`` (the compensating commit, or None when the
    head moved / every compensation retry lost its commit race — then
    the message's manual remedy applies)."""

    def __init__(
        self,
        msg: str,
        poisoned_version: int,
        compensated_version: int | None,
    ):
        super().__init__(msg)
        self.poisoned_version = poisoned_version
        self.compensated_version = compensated_version


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _versions(path: str) -> list[int]:
    d = _log_dir(path)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[:-5]) for f in os.listdir(d) if f.endswith(".json") and f[:-5].isdigit()
    )


def latest_version(path: str) -> int:
    """Highest committed version (-1 for a nonexistent table)."""
    vs = _versions(path)
    return vs[-1] if vs else -1


@dataclass
class Snapshot:
    """The table state at ``version``, folded from the log: the live add
    entries by relative path (rows and stats ride along), the live
    deletion-vector entries, the logged schema JSON (None when the log
    predates schema recording or a restore reverted to such a version),
    the commit record of ``version`` itself, and the batch-id ledger of
    the exactly-once streaming sinks."""

    path: str
    version: int
    files: dict[str, dict]
    dv: list[dict]
    schema_json: dict | None
    commit: dict
    batch_ids: set

    @property
    def schema(self):
        from pyspark.sql.types import StructType

        if self.schema_json is None:
            return None
        return StructType.fromJson(self.schema_json)

    def paths(self) -> list[str]:
        """Absolute paths of the live data files."""
        return [os.path.join(self.path, rel) for rel in self.files]


def _empty(path: str) -> Snapshot:
    return Snapshot(path, -1, {}, [], None, {}, set())


def _fold(path: str, cut: int | None = None) -> Iterator[Snapshot]:
    """THE log walk: read each commit up to ``cut`` (default: head) once
    and yield the running snapshot after each version (nothing for a
    nonexistent table). One Snapshot object advances in place, so
    ``files`` and ``batch_ids`` change under a caller that keeps it
    across steps; ``dv`` is replaced, never mutated. _snapshots_at copies.

    DV entries ACCUMULATE across dv-delete commits; a commit carrying
    ``dv_base`` (compact → [], restore → the target's folded state)
    RESETS the set first. Stale DV rows referencing files a later rewrite
    removed are harmless — the read-path anti-join keys on (file,
    row_index) and dead files are never scanned — so merge never needs to
    rewrite DV sidecars; compact's reset is a join-size optimization, not
    a correctness requirement."""
    vs = _versions(path)
    if not vs:
        return
    cut = vs[-1] if cut is None else cut
    if cut not in vs:
        raise ValueError(f"version {cut} not in table log (have {vs})")
    snap = _empty(path)
    for v in vs:
        if v > cut:
            break
        with open(os.path.join(_log_dir(path), _LOG_FMT.format(v))) as f:
            rec = json.load(f)
        for e in rec.get("add", []):
            snap.files[e["path"]] = e
        for rel in rec.get("remove", []):
            snap.files.pop(rel, None)
        snap.dv = list(rec.get("dv_base", snap.dv)) + list(rec.get("dv", []))
        s = rec.get("schema")
        if s is not None:
            snap.schema_json = None if s.get("__none__") else s
        bid = (rec.get("meta") or {}).get("batchId")
        if bid is not None:
            snap.batch_ids.add(bid)
        snap.version, snap.commit = v, rec
        yield snap


def snapshot(path: str, version: int | None = None) -> Snapshot:
    """The table state at ``version`` (default: head) — the fold's last
    value. Raises FileNotFoundError for a nonexistent table."""
    snap = None
    for snap in _fold(path, version):
        pass
    if snap is None:
        raise FileNotFoundError(f"no table log at {path}")
    return snap


def _head(path: str) -> Snapshot:
    """The head snapshot, or the empty one at version -1 before the
    table's first commit (appends create the table)."""
    return snapshot(path) if latest_version(path) >= 0 else _empty(path)


def _snapshots_at(path: str, versions) -> list[Snapshot]:
    """Independent snapshots at each of ``versions``, from ONE walk."""
    want = set(versions)
    got = {}
    for snap in _fold(path, max(want)):
        if snap.version in want:
            got[snap.version] = dataclasses.replace(
                snap, files=dict(snap.files), batch_ids=set(snap.batch_ids)
            )
    missing = sorted(want - set(got))
    if missing:
        raise ValueError(f"versions {missing} not in table log of {path}")
    return [got[v] for v in versions]


def snapshot_files(path: str, version: int | None = None) -> list[str]:
    """Live data files (absolute paths) at ``version`` (default: latest),
    by folding add/remove over the log prefix — never by listing data/."""
    return snapshot(path, version).paths()


def dv_state(path: str, cut: int | None = None) -> list[dict]:
    """The live DELETION-VECTOR entries ({"path": rel, "rows": n}) at
    version ``cut`` (default head); see _fold for how they accumulate."""
    return snapshot(path, cut).dv


# Every DV sidecar holds exactly these columns (delete_where_dv writes them).
DV_SCHEMA = "file string, ri long"


def _dv_rows_by_file(path: str, dv_entries: list[dict]) -> dict[str, list[int]]:
    """THE deletion-vector position reader: the row indexes the sidecars
    of ``dv_entries`` record, grouped per data file (log-relative path),
    read on the driver with pyarrow — the sidecars are small by the
    merge-on-read contract. The pkg2acid planners attach them to each
    file's partition; Table.changes diffs them."""
    import pyarrow.parquet as pq

    out: dict[str, list[int]] = {}
    for e in dv_entries:
        t = pq.read_table(os.path.join(path, e["path"]), columns=["file", "ri"])
        for f, ri in zip(t.column("file").to_pylist(), t.column("ri").to_pylist()):
            out.setdefault(f, []).append(ri)
    return out


def log_schema(path: str, version: int | None = None):
    """The logged table schema as of ``version`` (module-level so
    session-free consumers — e.g. the Python Data Source's driver-side
    planner — can fold the log without constructing a Table)."""
    return snapshot(path, version).schema


def _stat_comparable(value, lo):
    """Convert a comparison value to the logged-stats domain, or None
    when the pair is not safely comparable (prune only on same-type
    comparisons; everything else stays un-pruned)."""
    if isinstance(value, bool) or isinstance(lo, bool):
        return None
    if isinstance(value, (int, float)) and isinstance(lo, (int, float)):
        return value
    if hasattr(value, "isoformat") and isinstance(lo, str):
        return value.isoformat()  # date/timestamp stats are logged ISO
    if isinstance(value, str) and isinstance(lo, str):
        return value
    return None


# Whether a file whose logged range is [lo, hi] may hold a row with
# ``column <op> v``.
_MAY_MATCH = {
    "=": lambda lo, hi, v: lo <= v <= hi,
    ">": lambda lo, hi, v: hi > v,
    ">=": lambda lo, hi, v: hi >= v,
    "<": lambda lo, hi, v: lo < v,
    "<=": lambda lo, hi, v: lo <= v,
}


def stats_may_match(stats: dict, conds) -> bool:
    """False only when a file's logged [min, max] ``stats`` PROVE that no
    row satisfies every ``(column, op, value)`` in ``conds`` (op is one
    of = > >= < <=). A column without stats, or a value not comparable
    with them, never prunes, so pruning can only cost speed, never
    correctness. merge() and the pkg2acid reader's pushed filters both
    prune through this one predicate."""
    for col, op, value in conds:
        rng = stats.get(col)
        if not rng:
            continue
        v = _stat_comparable(value, rng[0])
        if v is not None and not _MAY_MATCH[op](rng[0], rng[1], v):
            return False
    return True


def _file_stats(file: str, stats_cols: list[str]) -> dict:
    """Row count and per-column min/max for ``stats_cols``, read from one
    file's parquet footer at COMMIT time (the Delta stats design: pay
    once on write, skip forever on read). A column whose footer values
    pyarrow cannot decode, or that have no JSON form stats_may_match can
    compare (e.g. decimals), logs no range: it never prunes, which is
    always correct."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(file).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for col in stats_cols:
        if col not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx[col]).statistics
            if s is None or not s.has_min_max:
                lo = hi = None
                break
            try:
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            except NotImplementedError:  # pyarrow cannot decode them
                lo = hi = None
                break
        lo, hi = _json_safe(lo), _json_safe(hi)
        if _comparable_scalar(lo) and _comparable_scalar(hi):
            stats[col] = [lo, hi]
    return {"rows": md.num_rows, "stats": stats}


def _json_safe(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _comparable_scalar(v) -> bool:
    return isinstance(v, (int, float, str)) and not isinstance(v, bool)


def _add_entries(
    root: str, rels: list[str], stats_cols: list[str] | None
) -> list[dict]:
    """THE add-entry builder, run after a write: one log entry (relative
    path, row count, footer stats) per freshly written file under
    ``root``. Table writes, DV sidecars and the pkg2acid writers all
    commit through it."""
    return [
        {"path": rel, **_file_stats(os.path.join(root, rel), stats_cols or [])}
        for rel in rels
    ]


def _write_files(df: DataFrame, root: str, rel_dir: str) -> list[str]:
    """Write ``df`` as parquet into the fresh directory ``rel_dir`` under
    ``root``; returns the written files relative to ``root``."""
    out_dir = os.path.join(root, rel_dir)
    df.write.mode("error").parquet(out_dir)
    return sorted(
        os.path.join(rel_dir, f) for f in os.listdir(out_dir) if f.endswith(".parquet")
    )


def _check_schema(path: str, current, new, allow_evolution: bool) -> None:
    """Schema ENFORCEMENT for every append-shaped write (Table.append,
    merge, append_batch and the pkg2acid writers — the Delta posture): a
    write whose columns differ from the logged ``current`` schema is
    refused unless ``allow_evolution`` — with it, the write may ADD
    columns but never drop or retype one (dropping silently loses data
    on the next read; retyping breaks the pinned-schema scan of old
    files)."""
    if current is None:
        return
    cur = {f.name: f.dataType for f in current.fields}
    new = {f.name: f.dataType for f in new.fields}
    dropped = sorted(set(cur) - set(new))
    added = sorted(set(new) - set(cur))
    retyped = sorted(n for n in set(cur) & set(new) if cur[n] != new[n])
    if dropped or retyped:
        raise ValueError(
            f"append to {path} is schema-incompatible: "
            f"dropped={dropped} retyped={retyped} (evolution may only "
            "ADD columns)"
        )
    if added and not allow_evolution:
        raise ValueError(
            f"append to {path} adds columns {added}; set "
            "allow_schema_evolution to evolve the table schema"
        )


def _commit(
    path: str,
    version: int,
    op: str,
    add: list[dict],
    remove: list[str],
    meta: dict | None = None,
    schema: dict | None = None,
    dv: list[dict] | None = None,
    dv_base: list[dict] | None = None,
) -> None:
    os.makedirs(_log_dir(path), exist_ok=True)
    rec = {
        "version": version,
        "op": op,
        "add": add,
        "remove": remove,
        "meta": meta or {},
    }
    if schema is not None:
        rec["schema"] = schema
    if dv is not None:
        rec["dv"] = dv
    if dv_base is not None:
        rec["dv_base"] = dv_base
    # Serialize BEFORE the exclusive create: a record that fails to
    # serialize must leave no version file behind — a half-written one
    # would break every later fold and win every later race.
    body = json.dumps(rec, indent=1)
    target = os.path.join(_log_dir(path), _LOG_FMT.format(version))
    try:
        fd = os.open(target, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise ConcurrentCommitError(
            f"version {version} of {path} was committed by another writer"
        ) from None
    with os.fdopen(fd, "w") as f:
        f.write(body)


def _commit_retrying(path: str, what: str, attempt: Callable[[], Any]):
    """THE optimistic-concurrency loop every writer commits through:
    ``attempt`` folds a fresh snapshot, plans against it and commits
    through _commit. Losing the log race discards that attempt wholesale
    (its data dir stays unreferenced for vacuum) and re-runs it against
    the new head — serializable for rewrites, a plain retry for blind
    appends."""
    for _ in range(COMMIT_ATTEMPTS):
        try:
            return attempt()
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(f"{what} on {path} kept losing commit races")


def _with_zvalue(df: DataFrame, cols: list[str]) -> DataFrame:
    """Append a Morton (Z-order) key ``__z`` over up to four numeric
    columns: each dimension linear-scales to an 8-bit bucket against its
    global min/max (ONE tiny bounds aggregate, broadcast as literals),
    and the buckets' bits interleave — q_fn_zorder's expression driving
    a write layout. Nulls bucket to 0 (they cluster together at the
    low corner, like Delta's NULLS FIRST zorder)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import NumericType

    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_by takes 1-4 columns")
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    bad = [
        c for c in cols
        if c not in dtypes or not isinstance(dtypes[c], NumericType)
    ]
    if bad:
        raise ValueError(
            f"zorder_by columns must be numeric table columns; got {bad} "
            "(a silent cast-to-null here would bucket everything to 0)"
        )
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__hi_{c}"))
    b = df.agg(*aggs).collect()[0]
    ndims = len(cols)
    z = None
    for j, c in enumerate(cols):
        lo, hi = b[f"__lo_{c}"], b[f"__hi_{c}"]
        if lo is None or hi is None or hi == lo:
            bucket = F.lit(0).cast("long")
        else:
            scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(
                float(hi) - float(lo)
            ) * 256
            bucket = F.coalesce(
                F.least(F.lit(255).cast("long"), F.floor(scaled).cast("long")),
                F.lit(0).cast("long"),
            )
        for i in range(8):
            bit = F.shiftright(bucket, i).bitwiseAND(F.lit(1)) * F.lit(
                1 << (i * ndims + j)
            )
            z = bit if z is None else z + bit
    return df.withColumn("__z", z.cast("long"))


def _signed_net(plus: DataFrame | None, minus: DataFrame | None) -> DataFrame:
    """Rows of ``plus`` that ``minus`` lacks tagged ``insert`` and the
    reverse tagged ``delete``, each repeated by its net count — both
    exceptAll directions as ONE signed aggregate: union the sides tagged
    +1/-1, sum the sign per distinct row, keep nonzero sums. Grouping
    treats nulls as equal, so this is exceptAll's null-safe multiset
    semantics, and the same net the change feed's executor-side Counter
    diff (_cdf_diff_batches) takes. A missing side needs no aggregate."""
    import pyspark.sql.functions as F

    if minus is None:
        return plus.withColumn("change_type", F.lit("insert"))
    if plus is None:
        return minus.withColumn("change_type", F.lit("delete"))
    n = F.col("__n")
    return (
        plus.withColumn("__n", F.lit(1))
        .unionByName(minus.withColumn("__n", F.lit(-1)))
        .groupBy(*plus.columns)
        .agg(F.sum("__n").alias("__n"))
        .filter(n != 0)
        .withColumn("change_type", F.when(n > 0, "insert").otherwise("delete"))
        .withColumn("__n", F.explode(F.array_repeat(F.lit(0), F.abs(n).cast("int"))))
        .drop("__n")
    )


@dataclass
class Table:
    """Handle on a logged table — all mutators go through the commit
    protocol; all readers go through snapshot folding. Each operation
    folds the log once and works from that one Snapshot."""

    spark: SparkSession
    path: str
    stats_cols: list[str] | None = None
    cluster_by: str | None = None
    num_files: int | None = None

    # -- readers ---------------------------------------------------------
    def schema_at(self, version: int | None = None):
        """The TABLE schema as of ``version`` — read from the log (each
        commit records its written schema: the Delta design, where the
        log, not the data files, owns the schema). None if the log
        predates schema recording — including after a restore() to such
        a version, which records an explicit {"__none__": true} marker
        so the fold reverts instead of resolving to a later schema."""
        return log_schema(self.path, version)

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read, optionally time-traveled to ``version``. The
        scan is pinned to the LOG's schema at that version — files
        written before a column existed surface it as null (schema
        evolution), and old versions read back with their OLD schema
        (time travel is schema-correct, not just row-correct)."""
        return self._read(snapshot(self.path, version), version is not None)

    def _read(self, snap: Snapshot, time_travel: bool) -> DataFrame:
        files = snap.paths()
        if time_travel:
            # Time travel outside the vacuum retention window should say
            # so, not fail lazily inside a Spark scan. The stat walk is
            # confined to EXPLICIT time-travel reads: the latest
            # snapshot's files always exist (vacuum never touches them),
            # so the hot path pays nothing. DV sidecars are part of the
            # snapshot: a vacuumed DV file makes the version unreadable
            # the same way a vacuumed data file does.
            dv_files = [os.path.join(self.path, e["path"]) for e in snap.dv]
            gone = [f for f in files + dv_files if not os.path.exists(f)]
            if gone:
                raise FileNotFoundError(
                    f"version {snap.version} of {self.path} is no longer "
                    f"readable: {len(gone)}/{len(files) + len(dv_files)} "
                    "of its data/DV files were vacuumed (raise vacuum's "
                    "keep_versions to retain deeper time travel)"
                )
        if not files:
            schema = snap.schema
            if schema is not None:
                return local_rows_df(self.spark, [], schema)
            # pre-schema-recording log: take any file it ever referenced
            first = next(_fold(self.path)).commit
            probe = [os.path.join(self.path, f["path"]) for f in first["add"]]
            return self.spark.read.parquet(*probe).limit(0)
        return self._scan(files, snap)

    def history(self) -> list[dict]:
        """The commit log, oldest first (driver-side: O(commits))."""
        return [snap.commit for snap in _fold(self.path)]

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level CDC between two snapshots: rows only in ``v_to`` are
        tagged ``insert``, rows only in ``v_from`` are tagged ``delete``
        (an update under merge = delete + insert of the new image).

        File-pruned: data files are immutable, so files present in BOTH
        snapshots cancel exactly — only the file-set difference is read,
        and its rows are netted as a multiset by ONE signed aggregate
        (_signed_net), never a full-table pass. An append-only history
        diffs by reading just the appended files; a merge reads just the
        rewritten region. Merge-on-read deletes inside the window come
        from the DV sidecars in one snapshot's list and not the other's,
        read on the driver. Building the frame runs no Spark job while
        each scan names at most 32 files (beyond Spark's
        parallelPartitionDiscovery threshold it lists them in a job)."""
        from collections import Counter

        import pyspark.sql.functions as F

        a, b = _snapshots_at(self.path, (v_from, v_to))
        sa, sb = set(a.paths()), set(b.paths())
        only_a, only_b = sorted(sa - sb), sorted(sb - sa)

        # MERGE-ON-READ deletes inside the window: DV positions at v_to
        # but not v_from are delete images; the reverse (a restore
        # un-deleting) are insert images. Shared sidecars cancel exactly
        # in the multiset difference, so only the differing ones are read.
        # Restricted to files live in BOTH snapshots: a rewritten file's
        # row changes are in the file diff, and its stale DV rows must
        # not double-count.
        def positions(mine, other):
            only = Counter(e["path"] for e in mine) - Counter(e["path"] for e in other)
            rows = _dv_rows_by_file(self.path, [{"path": p} for p in only.elements()])
            return Counter((f, ri) for f, ris in rows.items() for ri in ris)

        common = {os.path.relpath(f, self.path) for f in sa & sb}
        pos_a, pos_b = positions(a.dv, b.dv), positions(b.dv, a.dv)
        moved = {
            tag: [p for p in (x - y).elements() if p[0] in common]
            for tag, x, y in (("delete", pos_b, pos_a), ("insert", pos_a, pos_b))
        }
        if not only_a and not only_b and not any(moved.values()):
            return self._read(b, True).limit(0).withColumn("change_type", F.lit(""))
        # Both sides read under v_to's LOG schema so an evolved column
        # aligns (nulls on the old side) instead of failing the union.
        reader = self._pinned_reader(b)
        parts = [
            reader.parquet(sorted(sb or sa)[0]).limit(0).withColumn(
                "change_type", F.lit("")
            )
        ]
        if only_a or only_b:
            # Each side applies ITS OWN version's DV set, so a row
            # merge-on-read-deleted BEFORE the window never surfaces as a
            # change when its file is later rewritten (the rewrite's
            # output lacks it on both sides).
            parts.append(_signed_net(
                self._apply_dv(reader.parquet(*only_b), b.dv) if only_b else None,
                self._apply_dv(reader.parquet(*only_a), a.dv) if only_a else None,
            ))
        for tag, pos in moved.items():
            if not pos:
                continue
            scan = self._tag_positions(reader.parquet(*[
                os.path.join(self.path, rel) for rel in sorted({f for f, _ in pos})
            ]))
            keys = local_rows_df(self.spark, pos, "__file string, __ri long")
            parts.append(
                scan.join(F.broadcast(keys), ["__file", "__ri"], "inner")
                .drop("__file", "__ri")
                .withColumn("change_type", F.lit(tag))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _pinned_reader(self, snap: Snapshot):
        """A reader pinned to the log's schema — EVERY rewrite must scan
        through this: after a schema evolution the live set holds files
        with and without the added column, and plain parquet inference
        picks one footer arbitrarily, silently dropping the evolved
        column from a compaction/delete/merge rewrite."""
        schema = snap.schema
        return self.spark.read.schema(schema) if schema else self.spark.read

    def _file_prefix(self) -> str:
        """The _metadata.file_path prefix for this table's data files —
        strip it to get the log's relative paths."""
        return "file:" + os.path.abspath(self.path) + "/"

    def _dv_frame(self, dv_entries: list[dict]) -> DataFrame:
        """The folded deletion-vector rows (file, ri), schema-pinned: no inference job."""
        return self.spark.read.schema(DV_SCHEMA).parquet(
            *[os.path.join(self.path, e["path"]) for e in dv_entries]
        )

    def _tag_positions(self, df: DataFrame) -> DataFrame:
        """Attach __file (log-relative path) and __ri (row index) from the
        scan's _metadata columns — must run while df is still a bare file
        scan (_metadata stops resolving after a join)."""
        import pyspark.sql.functions as F

        return df.withColumn(
            "__file",
            F.replace(
                F.col("_metadata.file_path"),
                F.lit(self._file_prefix()),
                F.lit(""),
            ),
        ).withColumn("__ri", F.col("_metadata.row_index"))

    def _apply_dv(
        self, df: DataFrame, dv_entries: list[dict], keep_pos: bool = False
    ) -> DataFrame:
        """Apply a DELETION-VECTOR set to a bare file scan: one broadcast
        anti-join on (file, row_index) against the (small — that is the
        merge-on-read bet) folded DV rows."""
        import pyspark.sql.functions as F

        if not dv_entries and not keep_pos:
            return df
        tagged = self._tag_positions(df)
        if dv_entries:
            dv = self._dv_frame(dv_entries).select(
                F.col("file").alias("__dv_file"), F.col("ri").alias("__dv_ri")
            )
            tagged = tagged.join(
                F.broadcast(dv),
                (F.col("__file") == F.col("__dv_file"))
                & (F.col("__ri") == F.col("__dv_ri")),
                "left_anti",
            )
        return tagged if keep_pos else tagged.drop("__file", "__ri")

    def _scan(self, files: list[str], snap: Snapshot, keep_pos: bool = False):
        """Schema-pinned scan of ``files`` with the snapshot's DELETION
        VECTORS applied — THE scan every reader and every rewrite must go
        through once a table has DV commits: a rewrite reading raw files
        would RESURRECT merge-on-read-deleted rows into its output.
        ``keep_pos`` keeps the __file/__ri position columns for callers
        that need them (the DV writer)."""
        df = self._pinned_reader(snap).parquet(*files)
        return self._apply_dv(df, snap.dv, keep_pos)

    # -- writers ---------------------------------------------------------
    def create(self, df: DataFrame) -> int:
        """Version 0: write ``df`` and open the log. With ``cluster_by``
        set on the handle, every commit range-clusters on that column so
        per-file stat ranges stay tight and merge's data skipping bites
        (the layout lever)."""
        if latest_version(self.path) >= 0:
            raise FileExistsError(f"table already exists at {self.path}")
        return self._mutate("create", df, _empty(self.path), remove=[])

    def append(self, df: DataFrame, allow_schema_evolution: bool = False) -> int:
        """Blind append — never conflicts logically, so a commit race is
        simply retried against the next version.

        Schema ENFORCEMENT (the Delta posture, see _check_schema): an
        append whose columns differ from the table's logged schema is
        refused unless ``allow_schema_evolution`` — with it, the append
        may ADD columns (the commit's logged schema becomes the new table
        schema; old files read the new column as null)."""

        def attempt():
            snap = _head(self.path)
            _check_schema(self.path, snap.schema, df.schema, allow_schema_evolution)
            return self._mutate("append", df, snap, remove=[])

        return _commit_retrying(self.path, "append", attempt)

    def merge(self, updates: DataFrame, key: str) -> int:
        """Copy-on-write upsert: rows of ``updates`` replace same-``key``
        rows, new keys insert. Only data files whose footer [min, max]
        range on ``key`` intersects the updates' key range are rewritten
        (stats pruning); untouched files carry over by reference. The
        rewrite itself is one anti-join + union + write — all
        distributed; the pruning decision is driver-side metadata only.

        Touched-file discovery is two-stage, both exact supersets:
        footer-stats candidates first (a file whose [min, max] on ``key``
        misses the updates' key bounds cannot hold an updated row —
        driver-side metadata, free), then the Delta findTouchedFiles
        join: the candidates' KEY COLUMN ONLY, semi-joined against the
        update keys, aggregated to distinct file paths. The join stage is
        what keeps a pure-INSERT key range (e.g. new surrogate keys above
        every existing file) from widening the stats bounds into a
        full-table rewrite: files containing no updated key fall out
        exactly, whatever the bounds say.

        A concurrent commit between snapshot fold and log write aborts
        the attempt (ConcurrentCommitError) and re-runs against the new
        snapshot — serializable because the losing rewrite is discarded
        wholesale (its data dir is left unreferenced for vacuum)."""
        import pyspark.sql.functions as F

        from pkg2_spark.session import truncate_lineage_lazy

        # Materialize the distinct update-key set ONCE: it is read by
        # three separate jobs (bounds, findTouchedFiles, the rewrite's
        # anti-join) and a derived `updates` frame would otherwise
        # re-scan its source per job. The bounds aggregate reads every
        # partition, so it fills the lazy checkpoint: one action, not two.
        keys = truncate_lineage_lazy(updates.select(key).distinct())
        bounds = keys.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).collect()[0]
        in_bounds = [
            (key, ">=", _json_safe(bounds["lo"])),
            (key, "<=", _json_safe(bounds["hi"])),
        ]

        def attempt():
            snap = snapshot(self.path)
            _check_schema(self.path, snap.schema, updates.schema, False)
            candidates = [
                os.path.join(self.path, rel)
                for rel, e in snap.files.items()
                if stats_may_match(e.get("stats") or {}, in_bounds)
            ]
            touched = self._find_touched_files(candidates, keys, key, snap)
            if touched:
                # No broadcast hint: the update delta is unbounded in
                # general (a day's CDC feed) — AQE sizes the anti-join.
                # _scan, not a raw read: a raw rewrite would RESURRECT
                # DV-deleted rows living in the touched files.
                base = self._scan(touched, snap)
                rewritten = base.join(
                    keys, key, "left_anti"
                ).unionByName(updates)
            else:
                rewritten = updates
            return self._mutate(
                "merge",
                rewritten,
                snap,
                remove=[os.path.relpath(f, self.path) for f in touched],
                meta={
                    "pruned_files": len(snap.files) - len(touched),
                    "rewritten_files": len(touched),
                    "key": key,
                },
            )

        return _commit_retrying(self.path, "merge", attempt)

    def delete_where(self, predicate: str) -> int:
        """Copy-on-write delete: rewrite the snapshot minus matching rows.
        (File pruning on the predicate column is the same stats walk as
        merge; kept simple here — predicates are arbitrary SQL.)"""

        def attempt():
            snap = snapshot(self.path)
            base = self._scan(snap.paths(), snap)  # DV-applied: never resurrect
            kept_rows = base.filter(f"NOT ({predicate})")
            return self._mutate(
                "delete", kept_rows, snap, remove=list(snap.files),
                meta={"predicate": predicate},
            )

        return _commit_retrying(self.path, "delete", attempt)

    def update_where(self, predicate: str, assignments: dict[str, str]) -> int:
        """Copy-on-write UPDATE ... SET col = expr WHERE predicate. All
        right-hand sides evaluate against the OLD row simultaneously
        (one select, not chained withColumn — SQL UPDATE semantics, so
        ``{"a": "b", "b": "a"}`` swaps). The rewrite scans DV-applied
        (updating a merge-on-read-deleted row must not resurrect it) and
        casts each assignment back to the column's declared type, so an
        update can never retype the table. Like delete_where, the
        rewrite covers the live set; a key-range-targeted upsert should
        use merge(), whose stats pruning bounds the rewrite — noted in
        meta so table history shows which path ran."""
        import pyspark.sql.functions as F

        def attempt():
            snap = snapshot(self.path)
            base = self._scan(snap.paths(), snap)
            missing = sorted(
                c for c in assignments
                if c not in {f.name for f in base.schema.fields}
            )
            if missing:
                raise ValueError(
                    f"update_where assigns unknown columns {missing}"
                )
            cond = F.expr(predicate)
            cols = []
            for f in base.schema.fields:
                if f.name in assignments:
                    cols.append(
                        F.when(
                            cond,
                            F.expr(assignments[f.name]).cast(f.dataType),
                        )
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            return self._mutate(
                "update", base.select(*cols), snap, remove=list(snap.files),
                meta={
                    "predicate": predicate,
                    "assignments": dict(assignments),
                },
                # record the DECLARED schema, not the expression's:
                # when/otherwise marks outputs nullable, and an
                # UPDATE must not loosen the table's nullability
                schema_json=snap.schema_json,
            )

        return _commit_retrying(self.path, "update", attempt)

    def delete_where_dv(self, predicate: str) -> int:
        """MERGE-ON-READ delete — the deletion-vector arm of delete_where
        (Delta DV / Iceberg positional-delete semantics): instead of
        rewriting every live file minus the matching rows (copy-on-write
        pays |table| write for a point delete), record the matching rows'
        POSITIONS — (file, row_index) pairs, resolved through Spark's
        _metadata columns — as a small parquet sidecar and commit it as a
        dv entry. Readers apply the folded DV set as one broadcast
        anti-join (Table._scan), so the delete is visible immediately;
        compact() later MATERIALIZES the deletes (rewrites without the
        rows, resets the DV set) — the read-amplification-vs-write-cost
        trade every merge-on-read format schedules explicitly.

        The position scan itself reads through _scan, so rows already
        DV-deleted are never re-recorded (a second identical delete
        writes an empty sidecar and commits 0 rows). Write cost: one
        predicate scan (column-pruned to the predicate's needs plus two
        metadata columns) + a sidecar proportional to MATCHED rows —
        never a data rewrite. At 100 TB this is the only affordable
        shape for scattered compliance deletes."""
        import pyspark.sql.functions as F

        def attempt():
            snap = snapshot(self.path)
            v = snap.version + 1
            matches = (
                self._scan(snap.paths(), snap, keep_pos=True)
                .filter(predicate)
                .select(
                    F.col("__file").alias("file"),
                    F.col("__ri").alias("ri"),
                )
            )
            rel_dir = os.path.join("dv", f"v{v}-{uuid.uuid4().hex[:12]}")
            dv = [
                {"path": e["path"], "rows": e["rows"]}
                for e in _add_entries(
                    self.path, _write_files(matches, self.path, rel_dir), []
                )
                if e["rows"] > 0
            ]
            _commit(
                self.path,
                v,
                "delete",
                [],
                [],
                meta={
                    "predicate": predicate,
                    "mode": "dv",
                    "rows_deleted": sum(e["rows"] for e in dv),
                },
                schema=snap.schema_json,
                dv=dv,
            )
            return v

        return _commit_retrying(self.path, "dv-delete", attempt)

    def compact_small(self, target_rows: int, max_files: int | None = None) -> int:
        """PARTIAL compaction — bin-pack only files with fewer than
        ``target_rows`` rows (the production OPTIMIZE shape: a 100 TB
        table is never full-table-compacted; maintenance touches the
        small-file tail each little commit leaves behind, incrementally).
        Right-sized files carry over by reference. Returns the current
        head unchanged when fewer than two files qualify (one small file
        cannot be bin-packed into fewer).

        DV interplay: the rewrite reads DV-applied, so it MATERIALIZES
        the deletes of the files it touches — but unlike full compact it
        must NOT reset the table's DV set: untouched files may still
        depend on their DV rows. Touched files' DV rows simply go stale
        (harmless by the (file, row_index) key design); the next FULL
        compact reclaims the set."""

        def attempt():
            snap = snapshot(self.path)
            small = sorted(
                rel
                for rel, e in snap.files.items()
                if e.get("rows") is not None and e["rows"] < target_rows
            )
            if len(small) < 2:
                return snap.version
            df = self._scan([os.path.join(self.path, rel) for rel in small], snap)
            return self._mutate(
                "compact", df, snap, remove=small,
                meta={
                    "compacted_files": len(small),
                    "partial": True,
                    "target_rows": target_rows,
                    "kept_files": len(snap.files) - len(small),
                },
                layout=(
                    self.num_files if max_files is None else max_files,
                    self.cluster_by,
                ),
            )

        return _commit_retrying(self.path, "compact_small", attempt)

    def compact(
        self,
        max_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """OPTIMIZE: bin-pack the live snapshot into right-sized files —
        a LOGICAL NO-OP commit (every row carries over; Table.changes
        across it is empty, pinned by test and by q_acid_compact's
        oracle) that undoes small-file accumulation from many little
        commits. The rewrite re-range-clusters on cluster_by, restoring
        tight per-file stat ranges for merge pruning. ``max_files``
        overrides the handle's num_files for this commit (at deploy
        scale leave both unset and let AQE size output partitions).

        ``zorder_by`` (the OPTIMIZE ZORDER move): range-cluster this
        rewrite on an interleaved-bit Morton key over up to four NUMERIC
        columns instead of cluster_by — rows close in EVERY listed
        dimension land in the same files, so footer min/max stats prune
        scans filtered on ANY of them (q_fn_zorder is the key as a pure
        expression; here it drives the layout). Dimensions are linear
        min/max-scaled to 8-bit buckets via one tiny broadcast bounds
        agg — scale-free, no window, no sort beyond the write's range
        partitioning."""
        n = self.num_files if max_files is None else max_files

        def attempt():
            snap = snapshot(self.path)
            df = self._scan(snap.paths(), snap)  # DV-applied: compaction
            # MATERIALIZES merge-on-read deletes; its commit resets the DV set.
            cluster_by = self.cluster_by
            meta = {"compacted_files": len(snap.files)}
            if zorder_by:
                df = _with_zvalue(df, zorder_by)
                df = (
                    df.repartitionByRange(n, "__z")
                    if n
                    else df.repartitionByRange("__z")
                ).sortWithinPartitions("__z").drop("__z")
                cluster_by = None  # layout already applied
                meta["zorder_by"] = list(zorder_by)
            return self._mutate(
                "compact", df, snap, remove=list(snap.files), meta=meta,
                # the rewrite materialized every DV delete; reset the
                # folded DV set so readers stop paying the anti-join
                dv_base=[],
                layout=(n, cluster_by),
            )

        return _commit_retrying(self.path, "compact", attempt)

    def committed_batch_ids(self) -> set:
        """batchIds of every idempotent append in the log (the streaming
        sinks' replay ledger, folded with the snapshot)."""
        return _head(self.path).batch_ids

    def append_batch(self, df: DataFrame, batch_id: int) -> int | None:
        """EXACTLY-ONCE streaming append — the foreachBatch sink body.
        Structured Streaming guarantees at-least-once foreachBatch
        delivery with a stable batch_id per epoch; recording the id in
        the commit's meta and skipping ids already in the log upgrades
        that to exactly-once across restarts (the Delta streaming-sink
        txn design: the COMMIT is the dedup ledger, so a crash between
        write and commit replays harmlessly — the orphan data dir is
        never referenced). Returns the committed version, or None if
        this batch was already in the log."""

        def attempt():
            snap = _head(self.path)
            _check_schema(self.path, snap.schema, df.schema, False)
            if batch_id in snap.batch_ids:
                return None  # refolded: maybe a lost race's winner WAS this batch
            return self._mutate(
                "append", df, snap, remove=[], meta={"batchId": batch_id}
            )

        return _commit_retrying(self.path, f"append_batch({batch_id})", attempt)

    def restore(self, version: int) -> int:
        """RESTORE the table head to an earlier ``version`` as a NEW
        commit — pure METADATA: the target snapshot's file entries are
        re-added BY REFERENCE (never copied or rewritten; stats/rows
        carry over from their original add entries) and files added
        since are removed from the live set (still on disk for time
        travel until vacuum reaps them). History is preserved — the
        restore is itself a commit, so a mistaken restore can be
        restored away. The commit also re-records the TARGET's logged
        schema, so a restore across a schema evolution reverts the
        table schema too (the Delta RESTORE semantics); a target that
        PREDATES schema recording is reverted with an explicit
        null-schema marker, so schema_at(head) reports None (the
        target's state) instead of silently resolving to a later
        evolved schema (r11 advice).

        Cost: O(commits) driver-side log fold + one tiny JSON write —
        table size never appears. Fails fast (like read) if any target
        file was already vacuumed — and re-verifies after winning the
        commit so a vacuum racing this restore is handled loudly: the
        poisoned head is immediately superseded by an auto-committed
        compensating restore to the pre-restore state (metadata-only),
        then RestorePoisonedError carries both version numbers so
        callers can recover programmatically (r12 advice)."""

        def missing(rels) -> list[str]:
            return sorted(
                rel for rel in rels if not os.path.exists(os.path.join(self.path, rel))
            )

        def attempt():
            head = latest_version(self.path)
            if version == head:
                return head  # restoring to the head is a no-op
            target, cur = _snapshots_at(self.path, (version, head))
            target_all = list(target.files) + [e["path"] for e in target.dv]
            gone = missing(target_all)
            if gone:
                raise FileNotFoundError(
                    f"cannot restore {self.path} to version {version}: "
                    f"{len(gone)}/{len(target_all)} of its data/DV files "
                    "were vacuumed (raise vacuum's keep_versions to "
                    "retain deeper restore)"
                )
            add = [e for rel, e in sorted(target.files.items()) if rel not in cur.files]
            remove = sorted(rel for rel in cur.files if rel not in target.files)
            _commit(
                self.path,
                head + 1,
                "restore",
                add,
                remove,
                meta={
                    "restored_to": version,
                    "files_readded": len(add),
                    "files_removed": len(remove),
                    "files_rewritten": 0,
                },
                # {"__none__": true} is the explicit null-schema
                # marker: the target predates schema recording, and
                # the restore must revert to that state instead of
                # letting a later commit's schema win the fold.
                schema=target.schema_json or {"__none__": True},
                # DV state is part of the snapshot: revert it too.
                dv_base=target.dv,
            )
            # Check-then-commit closes a race: a concurrent vacuum
            # may have reaped target files between the existence walk
            # above and the commit write. Re-verify now that we own
            # the head; a poisoned restore is compensated (a
            # metadata-only restore back to the pre-restore state,
            # committed while we still hold the head) and reported
            # with both versions attached — never left as a silently
            # unreadable head, and never re-poisoned by a caller's
            # catch-and-retry loop (r12 advice).
            gone = missing(target_all)
            if not gone:
                return head + 1
            comp: int | None = None
            # The compensating commit re-adds the pre-restore
            # snapshot BY REFERENCE — but a second vacuum racing
            # in this same window (after the poisoned restore
            # became the retained head) can have reaped files
            # that only the pre-restore snapshot referenced.
            # Committing a reference to a missing file would
            # recreate the exact condition this mechanism exists
            # to prevent (an unreadable head), so re-verify the
            # WHOLE pre-restore snapshot (re-added entries plus
            # the files shared with the target) first and fall
            # through to the manual-remedy path if any are gone
            # (r13 advice).
            comp_gone = missing(list(cur.files) + [e["path"] for e in cur.dv])
            if not comp_gone and latest_version(self.path) == head + 1:
                try:
                    _commit(
                        self.path,
                        head + 2,
                        "restore",
                        [cur.files[rel] for rel in remove],
                        sorted(e["path"] for e in add),
                        meta={
                            "restored_to": head,
                            "compensates": head + 1,
                            "files_readded": len(remove),
                            "files_removed": len(add),
                            "files_rewritten": 0,
                        },
                        schema=cur.schema_json or {"__none__": True},
                        dv_base=cur.dv,
                    )
                    comp = head + 2
                except ConcurrentCommitError:
                    pass  # someone took the slot; report comp=None
            raise RestorePoisonedError(
                f"restore of {self.path} to version {version} "
                f"committed as v{head + 1}, but a concurrent "
                f"vacuum reaped {len(gone)}/{len(target_all)} of its "
                "data/DV files in the window — the restored head is "
                "unreadable"
                + (
                    f"; auto-committed compensating restore to the "
                    f"pre-restore state as v{comp}"
                    if comp is not None
                    else (
                        f"; the pre-restore snapshot lost "
                        f"{len(comp_gone)} data file(s) to the "
                        "same vacuum — compensation skipped; "
                        "restore to an intact version manually "
                        "to recover"
                        if comp_gone
                        else f"; compensation lost the head — "
                        f"restore back to version {head} "
                        "manually to recover"
                    )
                ),
                poisoned_version=head + 1,
                compensated_version=comp,
            )

        return _commit_retrying(self.path, "restore", attempt)

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data files no snapshot in the retained version window
        references (plus orphans from aborted writers are NOT touched —
        they are invisible to readers and cheap; a production vacuum
        would age them out). Time travel older than the window dies with
        the files, as in every table format."""
        vs = _versions(self.path)
        keep = set(vs[-keep_versions:] if keep_versions > 0 else vs)
        referenced: set[str] = set()
        ever: set[str] = set()
        # cut at the listed head: a commit landing meanwhile is outside
        # both sets, so its files are never victims
        for snap in _fold(self.path, vs[-1] if vs else None):
            rec = snap.commit
            ever.update(f["path"] for f in rec.get("add", []))
            ever.update(e["path"] for e in rec.get("dv", []) + rec.get("dv_base", []))
            if snap.version in keep:
                referenced.update(snap.files)
                # DV sidecars are part of the snapshot: reaping a retained
                # version's DV file would silently RESURRECT its deleted rows
                referenced.update(e["path"] for e in snap.dv)
        victims = sorted(os.path.join(self.path, rel) for rel in ever - referenced)
        for f in victims:
            if os.path.exists(f):
                os.remove(f)
        return victims

    # -- internals -------------------------------------------------------
    def _find_touched_files(
        self, candidates: list[str], keys: DataFrame, key: str, snap: Snapshot
    ) -> list[str]:
        """Exact touched-file set (the Delta findTouchedFiles join): scan
        ONLY the key column of the candidate files tagged with their
        file path, semi-join against the (pre-materialized, distinct)
        update keys, collect the distinct paths. Scan cost = one
        pruned-to-one-column pass over the stats candidates, read under
        ``snap``'s logged schema; the collect is O(touched files)."""
        import pyspark.sql.functions as F

        if not candidates:
            return []
        tagged = (
            self._pinned_reader(snap).parquet(*candidates)
            .select(F.col(key), F.input_file_name().alias("__file"))
            .join(keys, key, "left_semi")
            .select("__file")
            .distinct()
        )
        # input_file_name returns a URI; normalize to plain paths so they
        # compare equal to the snapshot's os paths.
        paths = {
            r["__file"].removeprefix("file://").removeprefix("file:")
            for r in tagged.collect()
        }
        return [f for f in candidates if f in paths]

    def _mutate(
        self,
        op: str,
        df: DataFrame,
        snap: Snapshot,
        remove: list[str],
        meta: dict | None = None,
        dv_base: list[dict] | None = None,
        schema_json: dict | None = None,
        layout: tuple[int | None, str | None] | None = None,
    ) -> int:
        """Write ``df`` and commit it as the version after ``snap``.
        ``layout`` is this commit's (num_files, cluster_by), default the
        handle's: an argument, never a change to the shared handle, so a
        writer on the same Table in another thread keeps its own."""
        version = snap.version + 1
        num_files, cluster_by = layout or (self.num_files, self.cluster_by)
        # repartitionByRange, not hash repartition: range partitioning
        # gives each file a TIGHT, near-disjoint [min, max] on the
        # cluster column — that is what makes the footer-stats pruning
        # in merge() equivalent to partition pruning. A hash repartition
        # would scatter every key range across every file and no file
        # could ever be skipped. num_files pins the file count (tests,
        # or a caller that knows its sizing); default leaves it to AQE,
        # which right-sizes partitions to advisoryPartitionSizeInBytes —
        # the production file-sizing lever (note AQE may coalesce a tiny
        # commit to ONE file, where pruning trivially cannot engage).
        if cluster_by:
            out = (
                df.repartitionByRange(num_files, cluster_by)
                if num_files
                else df.repartitionByRange(cluster_by)
            )
        else:
            out = df
        # A fresh per-commit data dir: its name carries the target version
        # and a uuid, so concurrent writers never collide on data paths
        # even when they race on the commit itself.
        rel_dir = os.path.join("data", f"v{version}-{uuid.uuid4().hex[:12]}")
        add = _add_entries(
            self.path, _write_files(out, self.path, rel_dir), self.stats_cols
        )
        _commit(
            self.path, version, op, add, remove, meta,
            schema=schema_json if schema_json is not None else df.schema.jsonValue(),
            dv_base=dv_base,
        )
        return version
