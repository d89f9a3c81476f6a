"""Persisted LSH dedup index: build once, apply deltas forever.

The production dedup shape is not "re-pair the corpus nightly" — it is a
LONG-LIVED index that each new shard updates: band table, candidate pairs
with (band_id, band_key) provenance, and verified cosines keyed by pair.
``build_state`` materializes it from a corpus; ``apply_delta`` runs one
increment — only the delta-touched buckets re-derive capped pairs, every
other bucket's pairs and cosines are reused via anti-joins — and can
COMMIT the merged state to a new version directory so the next shard
starts from it. Chained increments stay EXACTLY equal to the one-shot
batch recompute on the merged corpus (the bucket cap depends only on
bucket membership, re-derived wherever membership changed), which
tests/test_training.py proves by splitting one corpus into
base + shard1 + shard2 and comparing against the full-batch run.

Versioned directories rather than in-place mutation: state_v{N} is
immutable once written (the q_sink_rollup pattern); a failed increment
leaves the previous version intact.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from pkg2_spark.operators.lsh import banded_pairs
from pkg2_spark.operators.similarity import cosine_on_pairs, sign_lsh_bands
from pkg2_spark.session import truncate_lineage

BANDS = "bands"
PROV = "cand_prov"
VERIFIED = "verified"

# The on-disk state FORMAT contract — fixed by construction (build_state /
# apply_delta write exactly these columns). Reading with an explicit schema
# skips per-invocation parquet footer inference, which measured ~0.25 s of
# driver latency per increment (3 reads × ~80 ms, r15 profile) — pure plan
# construction cost that every apply_delta caller paid every call.
STATE_SCHEMAS = {
    BANDS: "vec_id bigint, band_id int, band_key string",
    PROV: "id_a bigint, id_b bigint, band_id int, band_key string",
    VERIFIED: "id_a bigint, id_b bigint, cos double",
}


def _write_state(df: DataFrame, out_dir: str, name: str) -> None:
    """Write one state frame after checking its columns and types against
    the pinned format (parquet reads by name, so order is free): a drifted
    frame (e.g. an int vec_id) fails here, at the writer, not in a later
    pinned-schema read."""
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    if got != dict(c.split() for c in STATE_SCHEMAS[name].split(", ")):
        shown = ", ".join(f"{k} {t}" for k, t in got.items())
        raise ValueError(
            f"dedup state {name!r} frame has schema ({shown}); the state "
            f"format pins ({STATE_SCHEMAS[name]})"
        )
    df.write.parquet(os.path.join(out_dir, name))


def build_state(
    corpus: DataFrame,
    out_dir: str,
    dim: int = 64,
    rows_per_band: int = 8,
    cap: int = 64,
) -> None:
    """Materialize the dedup index for ``corpus`` (vec_id, embedding)."""
    spark = corpus.sparkSession
    bands = sign_lsh_bands(corpus, dim=dim, rows_per_band=rows_per_band)
    _write_state(bands, out_dir, BANDS)
    _write_state(
        banded_pairs(bands, "vec_id", "id_a", "id_b", cap=cap, keep_provenance=True),
        out_dir,
        PROV,
    )
    cand = (
        spark.read.schema(STATE_SCHEMAS[PROV])
        .parquet(os.path.join(out_dir, PROV))
        .select("id_a", "id_b")
        .distinct()
    )
    _write_state(cosine_on_pairs(cand, corpus, "id_a", "id_b", dim=dim), out_dir, VERIFIED)


def read_state(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.schema(STATE_SCHEMAS[name]).parquet(
            os.path.join(state_dir, name)
        )
        for name in (BANDS, PROV, VERIFIED)
    }


def apply_delta(
    state_dir: str,
    delta: DataFrame,
    vectors: DataFrame,
    commit_dir: str | None = None,
    dim: int = 64,
    rows_per_band: int = 8,
    cap: int = 64,
    deletes: DataFrame | None = None,
) -> DataFrame:
    """One increment: dedup ``delta`` against the index at ``state_dir``,
    optionally RETRACTING ``deletes`` (a vec_id frame — e.g. a table-CDC
    delete set or a compliance key list) in the same step.

    Returns the verified pair frame (id_a, id_b, cos) for the MERGED
    post-increment corpus — feed it to resolve_components for cluster
    labels. ``vectors`` must cover every id that can appear in a pair
    (surviving corpus + delta).

    Retraction semantics (r13 verdict #2): a deleted id's band rows are
    removed, and every bucket it was a member of counts as TOUCHED —
    capped pairs re-derive there over the post-delete membership (the
    md5-ranked cap depends only on bucket membership, so survivors that
    were previously crowded out by the cap can lawfully surface), while
    untouched buckets' pairs and cosines are reused verbatim. Any bucket
    holding a deleted member is by definition touched, so no reused pair
    can reference a deleted id; stored cosines for retracted pairs
    become unreachable garbage that compact_state's provenance GC reaps.
    An id present in BOTH deletes and delta is an UPDATE: old bands out,
    new bands in, its buckets (old and new) re-derive. Incremental with
    deletes stays EXACTLY equal to the one-shot batch on the post-delete
    corpus — pinned by q_llm_dedup_retract's full-recompute oracle and
    the extended chain test (build → delta → delete → compact ≡ batch).

    With ``commit_dir`` set, the merged state (bands, pair provenance,
    verified cosines) is also written there, so the next shard's
    apply_delta runs against it — incremental forever, never a corpus
    re-pair.
    """
    spark = delta.sparkSession
    st = read_state(spark, state_dir)
    bands_c, prov_c, ver_c = st[BANDS], st[PROV], st[VERIFIED]

    if deletes is not None:
        dead = deletes.select("vec_id").distinct()
        # Buckets losing a member must re-derive; drop the member rows.
        touched_del = (
            bands_c.join(dead, "vec_id", "leftsemi")
            .select("band_id", "band_key")
            .distinct()
        )
        bands_c = bands_c.join(dead, "vec_id", "left_anti")
    else:
        touched_del = None

    bands_d = sign_lsh_bands(delta, dim=dim, rows_per_band=rows_per_band)
    touched = bands_d.select("band_id", "band_key").distinct()
    if touched_del is not None:
        touched = touched.union(touched_del).distinct()
    bands_touched = bands_c.join(
        touched, ["band_id", "band_key"], "leftsemi"
    ).unionByName(bands_d)
    prov_new = banded_pairs(
        bands_touched, "vec_id", "id_a", "id_b", cap=cap, keep_provenance=True
    )
    prov_keep = prov_c.join(touched, ["band_id", "band_key"], "left_anti")
    cand = (
        prov_keep.select("id_a", "id_b")
        .union(prov_new.select("id_a", "id_b"))
        .distinct()
    )
    if commit_dir is None:
        # Read-only increment (r14, guide §2.4): ONE left join against the
        # verified store with a conditional recompute replaces the former
        # anti-join (fresh pairs) + semi-join (kept pairs) + union — cand
        # and ver_c are each consumed once, so cand no longer needs its own
        # localCheckpoint action. The cosine expression sits in the
        # otherwise() branch of a when(), so stored pairs skip the dot
        # product exactly as the anti-join shape did; values are identical
        # either way (the cosine is deterministic — that determinism is what
        # makes stored-vs-recomputed indistinguishable, pinned by the
        # incremental ≡ batch oracle).
        from pkg2_spark.operators.similarity import wide, wide_cos

        stored = ver_c.withColumnRenamed("cos", "_stored")
        wa = wide(vectors, ["vec_id AS id_a"], "embedding", dim, "_wa")
        wb = wide(vectors, ["vec_id AS id_b"], "embedding", dim, "_wb")
        return (
            cand.join(stored, ["id_a", "id_b"], "left")
            .join(wa, "id_a")
            .join(wb, "id_b")
            .select(
                "id_a",
                "id_b",
                F.when(F.col("_stored").isNotNull(), F.col("_stored"))
                .otherwise(wide_cos("_wa", "_wb", dim))
                .alias("cos"),
            )
        )
    # Commit path: the merged state is written, so cand and the fresh
    # cosines are each consumed by several sinks — materialize cand once
    # (localCheckpoint) and keep the anti-join/semi-join split that lets
    # ver_fresh be persisted separately from the reused store.
    cand = cand.transform(truncate_lineage)
    fresh = cand.join(ver_c, ["id_a", "id_b"], "left_anti")
    ver_fresh = cosine_on_pairs(fresh, vectors, "id_a", "id_b", dim=dim)
    _write_state(bands_c.unionByName(bands_d), commit_dir, BANDS)
    _write_state(prov_keep.unionByName(prov_new), commit_dir, PROV)
    # keep EVERY computed cosine (not just current candidates): buckets
    # only gain members, so a pair once discovered can be rediscovered
    # by a later shard and its verification is then free.
    _write_state(ver_c.unionByName(ver_fresh), commit_dir, VERIFIED)
    return (
        spark.read.schema(STATE_SCHEMAS[VERIFIED])
        .parquet(os.path.join(commit_dir, VERIFIED))
        .join(cand, ["id_a", "id_b"], "leftsemi")
    )


def compact_state(
    spark: SparkSession,
    state_dir: str,
    out_dir: str,
    target_files: int = 8,
) -> None:
    """Compact one state version into a fresh right-sized directory.

    Every committed version is self-contained, so a long chain of
    ``state_v{N}`` directories carries N stale copies plus an
    ever-growing verified store (apply_delta keeps every cosine ever
    computed so rediscovery is free). Compaction is the lifecycle
    counterweight:

    - bands and pair provenance are rewritten through ``repartition``
      (the q_sink_compact small-file treatment — a long commit chain
      leaves delta-sized files behind);
    - the verified store is GC'd to pairs still derivable from current
      provenance. Dropping a stale cosine trades storage for a
      deterministic recompute IF a later shard ever rediscovers the
      pair, so compacted ≡ chained ≡ one-shot batch on every downstream
      result (tests/test_training.py chains build → delta → compact →
      delta against the full-batch oracle).

    The output directory is a normal committed version: feed it to
    apply_delta as ``state_dir`` and retire the superseded chain with
    :func:`retire_versions`.
    """
    st = read_state(spark, state_dir)
    cand = st[PROV].select("id_a", "id_b").distinct()
    st[BANDS].repartition(target_files).write.parquet(os.path.join(out_dir, BANDS))
    st[PROV].repartition(target_files).write.parquet(os.path.join(out_dir, PROV))
    st[VERIFIED].join(cand, ["id_a", "id_b"], "leftsemi").repartition(
        target_files
    ).write.parquet(os.path.join(out_dir, VERIFIED))


def retire_versions(version_dirs: list[str]) -> None:
    """Delete superseded state versions (call only AFTER the compacted
    head is fully written — parquet's _SUCCESS markers gate readers, so a
    crash between compact and retire leaves a valid chain plus a valid
    head, never a torn state)."""
    import shutil

    for d in version_dirs:
        shutil.rmtree(d, ignore_errors=True)
