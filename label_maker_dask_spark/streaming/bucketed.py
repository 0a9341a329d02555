"""Bucket-pruned maintenance sinks: per-batch cost scales with the DELTA,
not the base table.

The plain sinks (:mod:`streaming.upsert` and
:func:`operators.scd.stream_scd2_to_parquet`, all through
:func:`streaming.upsert.rewrite_exactly_once`) rewrite the whole base
table every micro-batch — crash-safe and simple, but at 100 TB a batch
touching 1% of keys pays a 100% rewrite.  This module stores the
maintained table hash-bucketed by its merge key:

    <base>/_lmds_table.json          table metadata (n_buckets, keys,
                                     cached data schema)
    <base>/lmdsb=0/part-*.parquet    one directory per key bucket,
    <base>/lmdsb=1/...               each carrying a
    ...                              ``_lmds_applied_batch`` marker (run
                                     id + highest applied batch id for
                                     THAT bucket)

and per micro-batch rewrites ONLY the bucket directories whose keys
appear in the delta: one Spark job reads exactly the touched directories
(path-listed, explicit cached schema — no footer inference, no listing of
untouched buckets), merges the delta, and writes the replacements
partitioned by bucket to a scratch directory; each touched bucket then
swaps in with :func:`streaming.commit.swap_in`, the rename-aside swap
the plain sink uses, per bucket directory.  Expected touched buckets
for a k-key delta over n buckets is ``n·(1-(1-1/n)^k) ≈ k`` when k ≪ n,
so batch cost follows delta size while the base grows without bound
(measured: ``tools/scaling_probe.py`` bucketed-maintenance cell,
SCALE.md).  That touched-bucket pass (:func:`_merge_touched_buckets`) is
shared with :mod:`streaming.versioned`, which publishes the same scratch
buckets as immutable versions instead of swapping them in.

Crash safety mirrors the plain sink, bucket-wise.  All scratch buckets
are fully written BEFORE any rename starts, so a set-aside directory
under ``<base>._old/`` proves its replacement under ``<base>._scratch/``
is complete; :func:`recover_buckets` runs
:func:`streaming.commit.recover_swap` on each set-aside bucket and
discards leftover scratch.  It is the first step of every batch, taken
under the writer lock, so a second writer fails on the lock before it
can touch the first writer's scratch.  A bucket's marker is written into
its scratch directory before the swap, so marker and data change
atomically.

Exactly-once under partial application (run ids, markers, the writer
lock: :mod:`streaming.commit`): a crash mid-batch leaves some buckets
swapped (marker == batch id) and some not.  The engine replays the batch;
the delta and its key→bucket hash are deterministic, so already-applied
buckets are skipped by their marker and the rest apply — additive
accumulation never double-counts.

A plain ``spark.read.parquet(base)`` still works — the bucket directories
are partition-discovery style, surfacing ``lmdsb`` as an int partition
column with pruning on key-bucket point lookups for free;
:func:`read_maintained_table` hides the column and skips schema
inference via the cached metadata.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from label_maker_dask_spark.operators.merge import (
    merge_additive,
    merge_upsert_delta,
    sum_per_key,
)
from label_maker_dask_spark.streaming.commit import (
    already_applied,
    applied_state,
    read_state,
    read_stored,
    recover_swap,
    start_sink,
    swap_in,
    write_applied,
    write_state,
    writer_lock,
)
from label_maker_dask_spark.streaming.upsert import compact_last_per_key

#: The partition-column name for the key-hash bucket.  NOT
#: underscore-prefixed — parquet readers skip underscore-prefixed paths,
#: and the bucket directories must remain visible to a plain read.
BUCKET_COL = "lmdsb"

_TABLE_META = "_lmds_table.json"


def _bucket_expr(keys: Sequence[str], n_buckets: int):
    """Deterministic key→bucket hash; stable across batches, replays and
    sessions (xxhash64 is seed-fixed), which the partial-replay skip
    depends on."""
    return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
        IntegerType()
    )


def _bucket_dir(base_path: str, i: int) -> str:
    return os.path.join(base_path, f"{BUCKET_COL}={i}")


def recover_buckets(base_path: str) -> None:
    """Finish any torn per-bucket swap (idempotent; module docstring):
    :func:`streaming.commit.recover_swap` for each bucket set aside under
    ``._old``, then discard leftover scratch — the checkpoint replays the
    batch and the markers of already-swapped buckets keep the replay
    exactly-once."""
    scratch, oldd = base_path + "._scratch", base_path + "._old"
    if os.path.isdir(oldd):
        for name in sorted(os.listdir(oldd)):
            if name.startswith(BUCKET_COL + "="):
                recover_swap(
                    os.path.join(scratch, name),
                    os.path.join(base_path, name),
                    os.path.join(oldd, name),
                )
        shutil.rmtree(oldd, ignore_errors=True)
    if os.path.isdir(scratch):
        shutil.rmtree(scratch)


def read_maintained_table(
    spark: SparkSession, base_path: str, with_bucket: bool = False
) -> DataFrame:
    """Read a maintained table, bucketed or plain.  For bucketed tables
    the cached metadata schema skips footer inference and the bucket
    partition column is hidden unless asked for; a plain table has no
    metadata, so its schema is inferred."""
    meta = read_state(base_path, _TABLE_META)
    df = read_stored(spark, base_path, meta, [base_path], BUCKET_COL)
    return df if with_bucket else df.drop(BUCKET_COL)


def key_lookup(spark: SparkSession, base_path: str, **key_values) -> DataFrame:
    """Point lookup on a bucketed maintained table with PARTITION pruning:
    the key's bucket is computed driver-side (same xxhash64 the writer
    used, evaluated by a 1-row Spark expression so the hash is
    bit-identical), and the scan filters on BOTH the bucket partition
    column and the key — so only ONE bucket directory's files are listed
    and read, no matter how many buckets the table has (asserted in
    tests/test_plans.py).  A plain ``where(k = v)`` would still scan
    every bucket: Spark cannot derive ``lmdsb = hash(k)`` on its own."""
    meta = read_state(base_path, _TABLE_META)
    if meta is None:
        raise ValueError(f"{base_path!r} is not a bucketed maintained table")
    keys = list(meta["keys"])
    if sorted(key_values) != sorted(keys):
        raise ValueError(
            f"key_lookup needs exactly the table keys {keys}, "
            f"got {sorted(key_values)}"
        )
    n = int(meta["n_buckets"])
    # cast each literal to the STORED key type before hashing — xxhash64
    # is type-sensitive, so hashing an int literal against a long column's
    # buckets would silently land in the wrong (usually empty) bucket
    schema = StructType.fromJson(json.loads(meta["schema"]))
    ktype = {f.name: f.dataType for f in schema.fields}
    typed = {
        k: F.lit(key_values[k]).cast(ktype[k]) for k in keys
    }
    one = spark.range(1).select(*[typed[k].alias(k) for k in keys])
    bucket = one.select(_bucket_expr(keys, n).alias("b")).collect()[0]["b"]
    df = read_maintained_table(spark, base_path, with_bucket=True)
    cond = F.col(BUCKET_COL) == int(bucket)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(typed[k])
    return df.where(cond).drop(BUCKET_COL)


def _merge_touched_buckets(
    delta: DataFrame,
    base_path: str,
    scratch: str,
    keys: Sequence[str],
    n_buckets: int,
    meta: Optional[dict],
    kind: str,
    read_base: Callable[[List[int]], Optional[DataFrame]],
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
    applied: Callable[[int], bool] = lambda bucket: False,
) -> Optional[Tuple[List[int], str, int]]:
    """The touched-bucket pass both bucketed layouts share (this module's
    in-place buckets and :mod:`streaming.versioned`'s immutable
    versions); each layout keeps only its replay check and its publish.

    ``meta`` is the record stored with the table (None before its first
    batch): its bucket count wins over ``n_buckets``, and other ``keys``
    are refused.  The delta's key buckets are collected, those that
    ``applied`` skips are dropped, ``read_base(buckets)`` reads the
    stored rows of the rest (None when none exist yet), and
    ``merge_fn(base or None, delta)`` — the replacement rows of those
    buckets — is written to ``scratch/lmdsb=<i>``.  ``kind`` names the
    layout in errors.  → ``(buckets, schema json, n_buckets)`` to
    publish, or None when the delta is empty or every touched bucket
    was applied."""
    if BUCKET_COL in delta.columns:
        raise ValueError(
            f"{kind} maintenance reserves column name {BUCKET_COL!r}"
        )
    if meta is not None:
        n_buckets = int(meta["n_buckets"])  # creation-time value wins
        if list(meta["keys"]) != list(keys):
            raise ValueError(
                f"{kind} table at {base_path!r} is keyed on "
                f"{meta['keys']}, not {list(keys)}"
            )
    delta = delta.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
    delta.persist()
    try:
        touched = sorted(
            r[0] for r in delta.select(BUCKET_COL).distinct().collect()
        )
        work = [i for i in touched if not applied(i)]
        if not work:
            return None  # empty delta, or full replay of an applied batch
        base_part = read_base(work)
        merged = merge_fn(
            None if base_part is None else base_part.drop(BUCKET_COL),
            delta.where(F.col(BUCKET_COL).isin(work)).drop(BUCKET_COL),
        )
        out = merged.withColumn(BUCKET_COL, _bucket_expr(keys, n_buckets))
        # one shuffle of the touched rows (only — never the untouched base)
        # so each bucket is written by exactly one task: without it every
        # write task emits a file into every touched bucket, and the
        # small-file count grows as tasks x buckets x batches
        out = out.repartition(F.col(BUCKET_COL))
        out.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(scratch)
        return work, merged.schema.json(), n_buckets
    finally:
        delta.unpersist()


def _apply_bucketed(
    delta: DataFrame,
    base_path: str,
    keys: Sequence[str],
    n_buckets: int,
    batch_id: int,
    run_id: Optional[str],
    merge_fn: Callable[[Optional[DataFrame], DataFrame], DataFrame],
) -> None:
    """Merge one (key-unique or key-aggregated) delta into the bucketed
    base, rewriting only touched buckets, under the single-writer lock
    (:func:`streaming.commit.writer_lock`: a second concurrent writer
    raises instead of interleaving bucket swaps).
    ``merge_fn(base_part, delta)`` returns the replacement rows for the
    touched buckets; ``base_part`` is None when none of them exist
    yet."""
    with writer_lock(base_path, run_id):
        recover_buckets(base_path)
        meta = read_state(base_path, _TABLE_META)

        def read_base(work: List[int]) -> Optional[DataFrame]:
            dirs = [_bucket_dir(base_path, i) for i in work]
            return read_stored(
                delta.sparkSession, base_path, meta,
                [d for d in dirs if os.path.isdir(d)], BUCKET_COL,
            )

        scratch = base_path + "._scratch"
        done = _merge_touched_buckets(
            delta, base_path, scratch, keys, n_buckets, meta, "bucketed",
            read_base, merge_fn,
            lambda i: already_applied(
                applied_state(_bucket_dir(base_path, i)), run_id, batch_id,
                f"bucketed maintenance: base table {base_path!r}",
            ),
        )
        if done is None:
            return
        work, schema, n_buckets = done
        # (re)write the metadata whenever the stored schema changes, not
        # just at creation — a later batch that evolves the schema (new
        # update column) would otherwise leave the cached read schema
        # stale and silently drop the new column from every read
        if meta is None or meta.get("schema") != schema:
            write_state(
                base_path,
                _TABLE_META,
                {
                    "n_buckets": n_buckets,
                    "keys": list(keys),
                    "bucket_col": BUCKET_COL,
                    "schema": schema,
                },
            )
        oldd = base_path + "._old"
        os.makedirs(oldd, exist_ok=True)
        for i in work:
            # the marker write makes the directory of a bucket that
            # deletes emptied, so the bucket still records this batch
            write_applied(_bucket_dir(scratch, i), run_id, batch_id)
            swap_in(
                _bucket_dir(scratch, i),
                _bucket_dir(base_path, i),
                _bucket_dir(oldd, i),
            )
        shutil.rmtree(oldd, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)


def stream_upsert_to_parquet_bucketed(
    changes: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    n_buckets: int = 64,
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    available_now: bool = True,
):
    """:func:`streaming.upsert.stream_upsert_to_parquet` semantics over a
    bucketed base table: per batch, only buckets containing delta keys
    are re-merged and swapped.  ``n_buckets`` matters only at creation;
    size it so base_size/n_buckets fits one comfortable write task (a few
    hundred MB) at the target scale."""

    def merge_fn(base_part: Optional[DataFrame], delta: DataFrame) -> DataFrame:
        return merge_upsert_delta(base_part, delta, keys, update_cols, delete_col)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        compacted = compact_last_per_key(batch, keys, seq_col).drop(seq_col)
        _apply_bucketed(
            compacted, base_path, keys, n_buckets, batch_id, run_id, merge_fn
        )

    return start_sink(changes, checkpoint, apply, "update", available_now)


def stream_accumulate_to_parquet_bucketed(
    deltas: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    n_buckets: int = 64,
    available_now: bool = True,
):
    """:func:`streaming.upsert.stream_accumulate_to_parquet` semantics
    (per-key running sums, exactly-once via in-table markers) over a
    bucketed base; per-bucket markers keep partial-crash replays
    exactly-once — see module docstring."""

    def merge_fn(base_part: Optional[DataFrame], delta: DataFrame) -> DataFrame:
        return merge_additive(base_part, delta, keys, sum_cols)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        _apply_bucketed(
            sum_per_key(batch, keys, sum_cols), base_path, keys, n_buckets,
            batch_id, run_id, merge_fn,
        )

    return start_sink(deltas, checkpoint, apply, "append", available_now)


__all__ = [
    "BUCKET_COL",
    "read_maintained_table",
    "key_lookup",
    "stream_upsert_to_parquet_bucketed",
    "stream_accumulate_to_parquet_bucketed",
]
