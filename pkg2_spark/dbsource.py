"""Partitioned parallel database ingest — Spark's JDBC-source semantics
over stdlib ``sqlite3``.

The environment has no JVM JDBC driver, but the PATTERN a Spark JDBC
read runs is driver-agnostic and worth owning: stride the key range of
``partition_column`` into ``num_partitions`` predicates exactly as
Spark's JDBCRelation.columnPartition does, then have each task open its
own connection and pull ONLY its predicate's rows — the read
parallelizes across the cluster, bounded per task, no driver-side
materialization. Swapping ``sqlite3.connect`` for any DB-API driver
(psycopg2, mysqlclient) is the only change a real deployment needs.

Semantics mirrored from Spark (JDBCRelation.columnPartition):

- bounds STRIDE the partitions, they do not FILTER: partition 0 is
  unbounded below (``col < lower + stride``) and the last partition is
  unbounded above, so rows outside [lower, upper) are still read,
  exactly once;
- stride = (upper - lower) / num_partitions, integer arithmetic, the
  last partition absorbing the remainder;
- one query per partition; a task failure re-runs only its partition's
  pull (idempotent SELECT).

Determinism: each row belongs to exactly one stride predicate, so the
result multiset is partitioning-invariant by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from pkg2_spark.session import local_rows_df

_SQLITE_TYPES = {
    "INTEGER": T.LongType(),
    "INT": T.LongType(),
    "BIGINT": T.LongType(),
    "REAL": T.DoubleType(),
    "DOUBLE": T.DoubleType(),
    "FLOAT": T.DoubleType(),
    "NUMERIC": T.DoubleType(),
    "TEXT": T.StringType(),
    "VARCHAR": T.StringType(),
    "BLOB": T.BinaryType(),
}


def _infer_schema(db_path: str, table: str) -> T.StructType:
    """Driver-side PRAGMA table_info — the dialect-inference step a JDBC
    source performs against the remote catalog (one metadata query)."""
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        rows = con.execute(f'PRAGMA table_info("{table}")').fetchall()
    finally:
        con.close()
    if not rows:
        raise ValueError(f"sqlite table {table!r} not found in {db_path}")
    fields = []
    for _cid, name, decl, _notnull, _dflt, _pk in rows:
        base = (decl or "").split("(")[0].strip().upper()
        fields.append(T.StructField(name, _SQLITE_TYPES.get(base, T.StringType())))
    return T.StructType(fields)


def partition_predicates(
    column: str, lower: int, upper: int, num_partitions: int
) -> list[str]:
    """The JDBCRelation.columnPartition stride predicates: first
    unbounded below, last unbounded above, interior half-open strides —
    every row matches exactly one predicate whatever its value."""
    if num_partitions < 1:
        raise ValueError("num_partitions must be >= 1")
    if upper <= lower:
        raise ValueError("upper_bound must be > lower_bound")
    n = min(num_partitions, max(1, upper - lower))
    stride = (upper - lower) // n
    preds = []
    for i in range(n):
        lo = lower + i * stride
        hi = lower + (i + 1) * stride
        if n == 1:
            preds.append("1=1")
        elif i == 0:
            preds.append(f'"{column}" < {hi}')
        elif i == n - 1:
            preds.append(f'"{column}" >= {lo}')
        else:
            preds.append(f'"{column}" >= {lo} AND "{column}" < {hi}')
    return preds


def read_sqlite(
    spark: SparkSession,
    db_path: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    schema: T.StructType | None = None,
    fetch_size: int = 10_000,
) -> DataFrame:
    """Parallel partitioned read of ``table`` from a SQLite file.

    Each Spark task opens its own connection and pulls one stride
    predicate's rows in ``fetch_size`` chunks (Arrow-batched back to the
    JVM) — the executor-side topology of ``spark.read.jdbc`` with
    ``partitionColumn/lowerBound/upperBound/numPartitions``. The file
    must be reachable from every executor (shared FS locally; a real
    RDBMS endpoint in a deployment)."""
    import pandas as pd

    schema = schema or _infer_schema(db_path, table)
    names = [f.name for f in schema.fields]
    cols = ", ".join(f'"{n}"' for n in names)
    preds = partition_predicates(
        partition_column, lower_bound, upper_bound, num_partitions
    )
    spine = local_rows_df(
        spark, [(i, p) for i, p in enumerate(preds)], "pid int, pred string"
    ).repartition(len(preds), "pid")

    def pull(batches):
        import sqlite3

        for pdf in batches:
            for pred in pdf["pred"]:
                con = sqlite3.connect(db_path)
                try:
                    cur = con.execute(
                        f'SELECT {cols} FROM "{table}" WHERE {pred}'
                    )
                    while True:
                        rows = cur.fetchmany(fetch_size)
                        if not rows:
                            break
                        yield pd.DataFrame.from_records(rows, columns=names)
                finally:
                    con.close()

    return spine.mapInPandas(pull, schema=schema)
