"""Snapshot-versioned BUCKETED maintenance: per-batch cost proportional
to the delta AND full table history — :mod:`streaming.bucketed`'s
bucket-pruned rewrites, kept as immutable versions with O(1) rollback.

This is the minimal shape every production table format (Iceberg/Delta/
Hudi) builds on: immutable data files + a tiny manifest naming which
files make up each table version.

Layout::

    <table>/_v/1.json          manifest: {"batch", "run",
    <table>/_v/2.json                     "buckets": {"0": 1, "5": 2, ...},
    ...                                   "n_buckets", "keys", "schema"}
    <table>/_latest            text file: current version number
    <table>/b=0/v=1/part-*.parquet   immutable once renamed in
    <table>/b=5/v=1/...  b=5/v=2/...

Per micro-batch: the delta's key-hash buckets are computed, ONLY the
touched buckets are re-merged (one partition-pruned job: the pass
:func:`streaming.bucketed._merge_touched_buckets` the in-place bucketed
sink runs too), each touched bucket's replacement lands as a
NEW immutable ``v=<n>`` directory, and a new manifest — copying the
previous bucket→version map with just the touched entries bumped — is
published atomically (tmp + rename), then the ``_latest`` pointer moves.
Untouched buckets are never read, written, or copied: a version costs
O(delta), yet every historical version remains fully readable.

Crash safety falls out of immutability: data directories are never
mutated after their rename, the manifest write is atomic, and a crash
anywhere leaves at worst orphan bucket-version directories no manifest
references (garbage-collected by :func:`expire_table_versions`).  There
is no recovery dance — replays are decided by the ``run``/``batch`` of
the newest manifest (:mod:`streaming.commit`), and a crash between
manifest publish and pointer move is healed by the replay re-pointing
``_latest``.

Reads: :func:`read_table_version` assembles the manifest's directory
list with an explicit schema (no footer inference, no listing of
unreferenced versions); :func:`rollback_table` is a pointer move.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from label_maker_dask_spark.operators.merge import (
    merge_additive,
    merge_upsert_delta,
    sum_per_key,
)
from label_maker_dask_spark.streaming.bucketed import (
    BUCKET_COL,
    _bucket_dir,
    _merge_touched_buckets,
)
from label_maker_dask_spark.streaming.commit import (
    already_applied,
    read_state,
    read_stored,
    start_sink,
    write_state,
    write_text,
    writer_lock,
)
from label_maker_dask_spark.streaming.upsert import compact_last_per_key

_VERSION_COL = "lmdsv"


def _manifest_dir(table: str) -> str:
    return os.path.join(table, "_v")


def _versions(table: str) -> List[int]:
    d = _manifest_dir(table)
    if not os.path.isdir(d):
        return []
    return sorted(
        int(n[:-5])
        for n in os.listdir(d)
        if n.endswith(".json") and n[:-5].isdigit()
    )


def _read_manifest(table: str, version: int) -> dict:
    m = read_state(_manifest_dir(table), f"{version}.json")
    if m is None:
        raise FileNotFoundError(f"no version {version} published at {table!r}")
    return m


def _write_manifest(table: str, version: int, manifest: dict) -> None:
    write_state(_manifest_dir(table), f"{version}.json", manifest)


def _version_dir(table: str, b, v) -> str:
    """The immutable directory of version ``v`` of bucket ``b``."""
    return os.path.join(_bucket_dir(table, b), f"{_VERSION_COL}={v}")


def _point_latest(table: str, version: int) -> None:
    write_text(os.path.join(table, "_latest"), str(version))


def latest_table_version(table: str) -> Optional[int]:
    ptr = os.path.join(table, "_latest")
    if os.path.exists(ptr):
        with open(ptr) as fh:
            return int(fh.read().strip())
    vs = _versions(table)
    return vs[-1] if vs else None


def rollback_table(table: str, version: int) -> None:
    """Repoint ``_latest`` at an older version — O(1), nothing rewritten."""
    if version not in _versions(table):
        raise FileNotFoundError(
            f"cannot roll back to missing version {version} at {table!r}"
        )
    _point_latest(table, version)


def _read_buckets(
    spark: SparkSession, table: str, manifest: dict, buckets: Sequence
) -> Optional[DataFrame]:
    """The directories ``manifest`` names for those of ``buckets`` it has,
    read with its stored schema (other versions of the same buckets are
    invisible to the scan); the bucket column stays.  None when it has
    none of them."""
    stored = manifest["buckets"]
    paths = [_version_dir(table, b, stored[str(b)]) for b in buckets
             if str(b) in stored]
    df = read_stored(spark, table, manifest, paths, BUCKET_COL, _VERSION_COL)
    return None if df is None else df.drop(_VERSION_COL)


def read_table_version(
    spark: SparkSession,
    table: str,
    version: Optional[int] = None,
    with_bucket: bool = False,
) -> DataFrame:
    """Read a pinned ``version`` (or the ``_latest`` one).  The scan lists
    exactly the manifest's bucket-version directories with the cached
    schema — other versions of the same buckets are invisible to it."""
    v = version if version is not None else latest_table_version(table)
    if v is None:
        raise FileNotFoundError(f"no versions published at {table!r}")
    m = _read_manifest(table, v)
    df = _read_buckets(spark, table, m, sorted(map(int, m["buckets"])))
    return df if with_bucket else df.drop(BUCKET_COL)


def _apply_versioned(
    delta: DataFrame,
    table: str,
    keys: Sequence[str],
    n_buckets: int,
    batch_id: int,
    run_id: Optional[str],
    merge_fn,
) -> Optional[int]:
    """Publish one delta as the table's next version under the
    single-writer lock (see :func:`streaming.commit.writer_lock`: a
    second concurrent writer raises instead of corrupting a publish);
    returns the new version (None on an applied replay or an empty
    delta)."""
    with writer_lock(table, run_id):
        vs = _versions(table)
        tip = vs[-1] if vs else None
        m = _read_manifest(table, tip) if tip is not None else None
        if already_applied(
            m, run_id, batch_id, f"versioned maintenance: table {table!r}"
        ):
            _point_latest(table, tip)  # heal a torn publish on replay
            return None
        spark, scratch = delta.sparkSession, os.path.join(table, "_publishing")
        done = _merge_touched_buckets(
            delta, table, scratch, keys, n_buckets, m, "versioned",
            lambda work: _read_buckets(spark, table, m, work) if m else None,
            merge_fn,
        )
        if done is None:
            return None  # an empty delta publishes no version
        touched, schema, n_buckets = done
        new_version = (tip or 0) + 1
        buckets = dict(m["buckets"]) if m else {}
        for b in touched:
            src = _bucket_dir(scratch, b)
            os.makedirs(src, exist_ok=True)  # bucket emptied by deletes
            dst = _version_dir(table, b, new_version)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if os.path.exists(dst):
                # orphan from a crash between renames and the manifest
                # write (no manifest references it — a published version
                # would have made this replay a no-op above)
                shutil.rmtree(dst)
            os.rename(src, dst)
            buckets[str(b)] = new_version
        shutil.rmtree(scratch, ignore_errors=True)
        _write_manifest(
            table,
            new_version,
            {
                "run": run_id,
                "batch": batch_id,
                "buckets": buckets,
                "n_buckets": n_buckets,
                "keys": list(keys),
                "schema": schema,
            },
        )
        _point_latest(table, new_version)
        return new_version


def expire_table_versions(table: str, keep: int = 2) -> List[int]:
    """Drop all but the newest ``keep`` manifests (never the pinned
    ``_latest``), then garbage-collect bucket-version directories no
    retained manifest references; returns the removed manifest
    versions."""
    vs = _versions(table)
    pinned = latest_table_version(table)
    removable = [v for v in (vs[:-keep] if keep > 0 else vs) if v != pinned]
    for v in removable:
        os.remove(os.path.join(_manifest_dir(table), f"{v}.json"))
    live = set()
    for v in _versions(table):
        m = _read_manifest(table, v)
        for b, bv in m["buckets"].items():
            live.add((str(b), int(bv)))
    for name in os.listdir(table):
        if not name.startswith(BUCKET_COL + "="):
            continue
        b = name.split("=", 1)[1]
        bdir = os.path.join(table, name)
        for vd in os.listdir(bdir):
            if vd.startswith(_VERSION_COL + "="):
                bv = int(vd.split("=", 1)[1])
                if (b, bv) not in live:
                    shutil.rmtree(os.path.join(bdir, vd))
    return removable


def stream_upsert_to_versioned_table(
    changes: DataFrame,
    table: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    n_buckets: int = 64,
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    keep: Optional[int] = None,
    available_now: bool = True,
):
    """CDC upsert where each micro-batch publishes a new table version at
    O(delta) cost: only delta-touched buckets get new files, the manifest
    carries everything else forward by reference.  ``keep`` bounds
    retained versions."""

    def merge_fn(base_part, delta):
        return merge_upsert_delta(base_part, delta, keys, update_cols, delete_col)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        compacted = compact_last_per_key(batch, keys, seq_col).drop(seq_col)
        v = _apply_versioned(
            compacted, table, keys, n_buckets, batch_id, run_id, merge_fn
        )
        if v is not None and keep is not None:
            expire_table_versions(table, keep=keep)

    return start_sink(changes, checkpoint, apply, "update", available_now)


def stream_accumulate_to_versioned_table(
    deltas: DataFrame,
    table: str,
    checkpoint: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    n_buckets: int = 64,
    keep: Optional[int] = None,
    available_now: bool = True,
):
    """Additive running sums with versioned O(delta) publishes; the
    manifest's batch marker keeps the non-idempotent addition
    exactly-once under replay."""

    def merge_fn(base_part, delta):
        return merge_additive(base_part, delta, keys, sum_cols)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        v = _apply_versioned(
            sum_per_key(batch, keys, sum_cols), table, keys, n_buckets,
            batch_id, run_id, merge_fn,
        )
        if v is not None and keep is not None:
            expire_table_versions(table, keep=keep)

    return start_sink(deltas, checkpoint, apply, "append", available_now)


def table_version_diff(
    spark: SparkSession,
    table: str,
    v_from: int,
    v_to: Optional[int] = None,
) -> DataFrame:
    """Row-level diff between two published versions — the change-data
    feed a maintained table owes its consumers: one row per key whose
    state differs, with ``change`` in ``insert | update | delete`` and
    the full ``old`` / ``new`` payload structs.

    MANIFEST-PRUNED: versions share the immutable directories of
    untouched buckets, so two manifests agree on every bucket the
    interval never touched — those buckets are provably identical and
    are never read.  The scan lists only buckets whose version entry
    differs, making the diff O(changed buckets), not O(table): the same
    pruning that makes publishes O(delta) makes history QUERIES
    O(delta) too.  Within a changed bucket, unchanged rows are dropped
    by a null-safe struct comparison after a full-outer join on the
    table's keys (from the manifest — the caller names nothing).
    """
    v_to = v_to if v_to is not None else latest_table_version(table)
    if v_to is None:
        raise FileNotFoundError(f"no versions published at {table!r}")
    m_from = _read_manifest(table, v_from)
    m_to = _read_manifest(table, v_to)
    keys = m_from["keys"]
    if m_to["keys"] != keys:
        raise ValueError(
            f"version {v_from} keys {keys} != version {v_to} keys "
            f"{m_to['keys']}"
        )
    # Schema evolution across the interval is unsupported: the payload
    # structs below select m_to's value columns from BOTH versions, so an
    # added/renamed/dropped column would otherwise surface as an opaque
    # unresolved-column AnalysisException deep in the join.  Fail early
    # and name the drift instead.
    s_from, schema = (
        StructType.fromJson(json.loads(m["schema"])) for m in (m_from, m_to)
    )
    shape = lambda s: [(f.name, f.dataType.simpleString()) for f in s]
    if shape(s_from) != shape(schema):
        raise ValueError(
            f"table_version_diff: schema changed between version {v_from} "
            f"(columns {s_from.fieldNames()}) and version {v_to} (columns "
            f"{schema.fieldNames()}) — schema evolution is not supported "
            "across a diff interval; diff within each schema epoch "
            "separately."
        )
    val_cols = [f.name for f in schema.fields if f.name not in keys]
    if not val_cols:
        raise ValueError(
            f"table_version_diff: table {table!r} has no value columns "
            f"(all {len(keys)} columns are keys) — a keys-only table has "
            "no payload to diff; membership changes are visible as "
            "insert/delete rows in the bucket listings themselves."
        )
    bf, bt = m_from["buckets"], m_to["buckets"]
    changed = sorted(
        (b for b in set(bf) | set(bt) if bf.get(b) != bt.get(b)),
        key=int,
    )
    empty = spark.createDataFrame([], schema)
    old = _read_buckets(spark, table, m_from, changed)
    new = _read_buckets(spark, table, m_to, changed)
    # a side with no changed-bucket directories (e.g. v_to only ADDED
    # brand-new buckets) diffs against the empty frame of the same
    # schema — every row then classifies as insert/delete naturally
    old = old if old is not None else empty
    new = new if new is not None else empty

    def payload(df):
        return F.struct(*[df[c] for c in val_cols])

    o = old.select(*keys, payload(old).alias("old"))
    n = new.select(*keys, payload(new).alias("new"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("old").isNull(), F.lit("insert"))
        .when(F.col("new").isNull(), F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    return (
        j.where(~F.col("old").eqNullSafe(F.col("new")))
        .select(*keys, change.alias("change"), "old", "new")
    )


__all__ = [
    "read_table_version",
    "latest_table_version",
    "rollback_table",
    "expire_table_versions",
    "stream_upsert_to_versioned_table",
    "stream_accumulate_to_versioned_table",
    "table_version_diff",
]
