"""Seeded input generators for the benchmark.

Every input the engine sees is produced here from a seed, so a run needs
nothing outside its checkout:

- ``make_tables``: the ten driver tables (TPC-H-ish star schema, events,
  documents, embeddings) with the schemas, physical types, row counts and
  value domains of the driver's testdata; events per user, event-type mix
  and embedding geometry follow it too (``calibrate.py`` compares the
  pipeline queries on both). The pipeline_build workload uses a fixed table
  seed, so its data is identical on every run and the workload seed only
  sets the order of operations.
- ``make_apkindex``: a synthetic Alpine APKINDEX whose ``D:`` depends form a
  DAG through names and ``p:`` provides, plus the ground truth the
  service_mix checks compare against.
- ``AcidBatches``: the seeded row batches acid_commit writes, with the
  Python model of the table they produce.
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_PART_ADJ = "red small hot cold old new large blue".split()
_PART_NOUN = "gear gizmo widget ring plate anvil bolt rod".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]


def _ts_us(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> pa.Array:
    span = (hi - lo).days
    return _ts_us(lo, rng.integers(0, span + 1, n).astype(np.int64) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document: the dedup operators'
            # candidate pairs come from these
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_DOC_WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    # Unit vectors in random directions with labels drawn apart from them:
    # the driver's embeddings show no cluster structure (each label's mean
    # vector is as short as the mean of that many random unit vectors).
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat)
    return pa.table(
        {"vec_id": pa.array(np.arange(n, dtype=np.int64)), "embedding": emb, "label": pa.array(labels)}
    )


def make_tables(out_dir: str, sf: float = 0.1, seed: int = TABLE_SEED) -> dict:
    """Write the ten tables as one parquet file each under ``out_dir``.

    Returns {table: rows} plus the total bytes written."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_li = 4 * n_ord
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_li),
        }
    )
    span_us = 30 * 86_400_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts_us(dt.datetime(2024, 1, 1), np.sort(rng.integers(0, span_us, n_ev))),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64)),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    os.makedirs(out_dir, exist_ok=True)
    sizes: dict = {}
    for name, table in t.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = table.num_rows
    sizes["bytes"] = sum(
        os.path.getsize(os.path.join(out_dir, f"{n}.parquet")) for n in t
    )
    return sizes


# --------------------------------------------------------------- APKINDEX
class PackageIndex:
    """A generated package universe and its ground-truth lookups.

    Package ``i`` depends on up to three packages with smaller indices,
    either by name or through an ``so:`` capability the target provides,
    so the dependency graph is a DAG. Lookup semantics mirror
    ``Engine``: a capability is provided by the package of that name and
    by every package listing it (version suffix stripped) under ``p:``."""

    def __init__(self, seed: int, n: int = 20_000):
        rng = np.random.default_rng(seed)
        stems = ["lib", "py3-", "perl-", "font-", "x11-", "go-", "rust-", ""]
        self.names = [
            f"{stems[int(rng.integers(0, len(stems)))]}pkg{i:05d}" for i in range(n)
        ]
        self.versions = [
            f"{rng.integers(0, 9)}.{rng.integers(0, 30)}.{rng.integers(0, 20)}-r{rng.integers(0, 5)}"
            for _ in range(n)
        ]
        self.provides: list[list[str]] = []
        for i in range(n):
            caps = []
            if rng.random() < 0.3:
                caps.append(f"so:libp{i:05d}.so.{int(rng.integers(1, 4))}")
            if rng.random() < 0.1:
                caps.append(f"cmd:tool{i % 4000:04d}")
            self.provides.append(caps)
        self.depends: list[list[str]] = []
        for i in range(n):
            deps: set[str] = set()
            if i > 0:
                for _ in range(int(rng.integers(0, 4))):
                    j = int(rng.integers(max(0, i - 400), i))
                    so = [c for c in self.provides[j] if c.startswith("so:")]
                    deps.add(so[0] if so and rng.random() < 0.5 else self.names[j])
            self.depends.append(sorted(deps))
        self.providers: dict[str, set[str]] = {}
        for name, caps in zip(self.names, self.provides):
            self.providers.setdefault(name, set()).add(name)
            for c in caps:
                self.providers.setdefault(c, set()).add(name)
        self.edges = sum(len(d) for d in self.depends)

    def write(self, path: str) -> int:
        lines = []
        for i, name in enumerate(self.names):
            lines += [f"P:{name}", f"V:{self.versions[i]}", "A:x86_64", f"S:{1000 + i * 7}",
                      f"T:generated package {i}"]
            if self.provides[i]:
                lines.append("p:" + " ".join(f"{c}=1" for c in self.provides[i]))
            lines.append("D:" + " ".join(self.depends[i]))
            lines.append("")
        data = "\n".join(lines) + "\n"
        with open(path, "w") as fh:
            fh.write(data)
        return len(data.encode())

    # ------------------------------------------------ ground truth
    def search(self, pattern: str) -> set[str]:
        rx = re.compile(
            "^" + "".join(".*" if c == "%" else "." if c == "_" else re.escape(c) for c in pattern) + "$",
            re.S,
        )
        return {n for n in self.names if rx.match(n)}

    def whatprovides(self, cap: str) -> set[str]:
        return set(self.providers.get(cap, ()))

    def whatdepends(self, package: str) -> set[tuple[str, str]]:
        return {
            (self.names[i], d)
            for i, deps in enumerate(self.depends)
            for d in deps
            if package in self.providers.get(d, ())
        }

    def resolve(self, package: str, max_depth: int = 10) -> dict[str, int]:
        idx = {n: i for i, n in enumerate(self.names)}
        adj = lambda n: {p for d in self.depends[idx[n]] for p in self.providers.get(d, ())}  # noqa: E731
        depth: dict[str, int] = {}
        frontier = sorted(adj(package))
        d = 1
        while frontier and d <= max_depth:
            for n in frontier:
                depth.setdefault(n, d)
            frontier = sorted({m for n in frontier for m in adj(n) if m not in depth})
            d += 1
        return depth


def make_apkindex(path: str, seed: int, n: int = 20_000) -> tuple[PackageIndex, dict]:
    idx = PackageIndex(seed, n)
    nbytes = idx.write(path)
    return idx, {"packages": n, "edges": idx.edges, "bytes": nbytes}


# ------------------------------------------------------------ ACID batches
class AcidBatches:
    """Seeded batches for acid_commit and the model of the table they build.

    Keys are allocated upward, so appends and the insert half of each merge
    never collide with live keys; the update half of a merge picks live
    keys. ``model`` maps id -> (id, grp, amount, tag), the rows the table
    must hold after the operations applied so far; ``changed`` maps each key
    touched since ``mark`` to its row at ``mark`` (None if it was absent)."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.next_id = 0
        self.model: dict[int, tuple] = {}
        self.changed: dict[int, tuple | None] = {}

    def _fill(self, ids: np.ndarray) -> list[tuple]:
        n = len(ids)
        grp = self.rng.integers(0, 100, n)
        amount = np.round(self.rng.uniform(0, 1000, n), 2)
        tags = self.rng.integers(0, 1 << 30, n)
        return [
            (int(i), int(g), float(a), f"t{int(t):08x}")
            for i, g, a, t in zip(ids, grp, amount, tags)
        ]

    def new_rows(self, n: int) -> list[tuple]:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        return self._fill(ids)

    def merge_rows(self, n: int, recent: int = 20_000) -> list[tuple]:
        """``n // 2`` updates of live keys among the ``recent`` newest ids,
        the rest inserts of new keys."""
        floor = self.next_id - recent
        live = np.fromiter((k for k in self.model if k >= floor), dtype=np.int64)
        upd = self.rng.choice(live, n // 2, replace=False)
        return self._fill(np.sort(upd)) + self.new_rows(n - n // 2)

    def delete_predicate(self) -> tuple[str, object]:
        """A DV-delete predicate (SQL) and the same test on a model row."""
        m = int(self.rng.integers(5, 12))
        r = int(self.rng.integers(0, m))
        g = int(self.rng.integers(0, 100))
        return (
            f"grp = {g} AND id % {m} = {r}",
            lambda row: row[1] == g and row[0] % m == r,
        )

    def upsert(self, rows: list[tuple]) -> None:
        for row in rows:
            self.changed.setdefault(row[0], self.model.get(row[0]))
            self.model[row[0]] = row

    def delete(self, match) -> int:
        dead = [k for k, row in self.model.items() if match(row)]
        for k in dead:
            self.changed.setdefault(k, self.model.pop(k))
        return len(dead)

    def mark(self) -> None:
        self.changed = {}

    def diff_since_mark(self) -> dict[str, int]:
        """Rows inserted and deleted between ``mark`` and now, an update
        counting as one of each."""
        now = self.model
        return {
            "insert": sum(1 for k, old in self.changed.items() if k in now and now[k] != old),
            "delete": sum(1 for k, old in self.changed.items() if old is not None and now.get(k) != old),
        }

    @staticmethod
    def write(rows: list[tuple], path: str) -> int:
        """Write rows as one parquet file; returns its size in bytes."""
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(cols[0], pa.int64()),
                    "grp": pa.array(cols[1], pa.int32()),
                    "amount": pa.array(cols[2], pa.float64()),
                    "tag": pa.array(cols[3], pa.string()),
                }
            ),
            path,
        )
        return os.path.getsize(path)
