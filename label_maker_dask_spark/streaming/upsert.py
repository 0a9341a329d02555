"""Streaming CDC apply: maintain an upserted parquet table from a change
stream — the materialized-view-maintenance half of Structured Streaming
that plain append sinks can't express.

Each micro-batch is (1) compacted to its LAST change per key (a CDC batch
legitimately carries several changes for one key; ``seq_col`` orders them),
then (2) merged onto the base table with
:func:`operators.merge.merge_upsert_delta` (the batch is already key-unique,
so the merge skips its duplicate-key scan), and (3) the merged table swaps
in via write-to-temp + rename-aside — reading and overwriting the same path
in one job would corrupt the base mid-scan.

Every plain sink (upsert, accumulate, and ``operators/scd.py``'s SCD-2
history) applies its batch through one body, :func:`rewrite_exactly_once`.

Crash safety: the merged table is written to ``<base>._applying`` and
swapped in through ``<base>._old`` by :func:`streaming.commit.swap_in`;
the base directory is never deleted before its replacement exists.
The rewrite first runs :func:`streaming.commit.recover_swap` on the same
paths, which finishes an interrupted swap before the base or its marker
is read.  Without it, a crash between the two renames would make the
next batch see "no base table" and silently rebuild it from that one
batch.

Exactly-once (run ids, markers, the foreachBatch driver:
:mod:`streaming.commit`): the applied-batch marker rides inside the
swapped directory, so table and marker change together with the rename.
Accumulation and SCD-2 need it, since a replay would double-count or be
rejected; the upsert is idempotent, but the marker's run id is what
refuses a fresh checkpoint pointed at an existing table.  The marker
also keeps the table's schema, which the next batch reads the base with
instead of inferring it from the parquet footers.

Scale posture: per batch, the merge is the broadcast-left-join +
keys-only-anti shape (base table never shuffles); the rewrite cost is the
base table scan+write, which is the honest price of upsert-on-parquet —
at real scale the same operator targets a table format whose MERGE commits
file-level deltas instead of a full rewrite (the plan shape is identical).
"""

from __future__ import annotations

import os
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.merge import (
    merge_additive,
    merge_upsert_delta,
    sum_per_key,
)
from label_maker_dask_spark.streaming.commit import (
    already_applied,
    applied_state,
    read_stored,
    recover_swap,
    start_sink,
    swap_in,
    write_applied,
)


def compact_last_per_key(
    batch: DataFrame, keys: Sequence[str], seq_col: str
) -> DataFrame:
    """Keep each key's LAST change by ``seq_col`` (ties impossible when
    ``seq_col`` is unique per key, e.g. a CDC log offset)."""
    w = Window.partitionBy(*keys).orderBy(F.desc(seq_col))
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def stream_upsert_to_parquet(
    changes: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    available_now: bool = True,
    evolve_schema: bool = False,
):
    """Start a streaming query applying ``changes`` onto the parquet table
    at ``base_path``; returns the StreamingQuery.  The base table need not
    exist yet — the first batch creates it (minus ``seq_col``/
    ``delete_col``, which are change-log metadata, not table columns).

    ``evolve_schema`` passes through to :func:`merge_upsert`: a NEW
    column appearing in the change feed (the rolling-upgrade shape — the
    stream restarts with a widened source schema) widens the base with
    typed NULLs instead of being silently dropped.  Safe here because
    this sink REWRITES the base each batch, so the stored table always
    has exactly one schema; the bucket-pruned sink rewrites only touched
    buckets and deliberately does NOT offer this knob."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        compacted = compact_last_per_key(batch, keys, seq_col).drop(seq_col)
        rewrite_exactly_once(
            batch.sparkSession, base_path, batch_id, run_id,
            lambda base: merge_upsert_delta(
                base, compacted, keys, update_cols, delete_col, evolve_schema
            ),
            "stream_upsert_to_parquet: base table",
        )

    return start_sink(changes, checkpoint, apply, "update", available_now)


def rewrite_exactly_once(
    spark,
    base_path: str,
    batch_id: int,
    run_id: Optional[str],
    merge_fn: Callable[[Optional[DataFrame]], DataFrame],
    what: str,
) -> None:
    """Marker-guarded full rewrite of a plain maintained table.  A swap
    a crash interrupted is finished first, so the marker and the base
    read next are the ones the last batch left.  An applied replay is
    then skipped (:func:`streaming.commit.already_applied`); otherwise
    ``merge_fn(base or None)`` is written to the tmp dir with the applied
    marker inside it and swapped in, so table and marker change
    atomically.  The marker is an underscore-prefixed data file —
    Spark's parquet listing ignores it, like _SUCCESS — and keeps the
    table's schema, so the base is read without footer inference."""
    tmp, old = base_path + "._applying", base_path + "._old"
    recover_swap(tmp, base_path, old)
    state = applied_state(base_path)
    if already_applied(state, run_id, batch_id, f"{what} {base_path!r}"):
        return
    paths = [base_path] if os.path.exists(base_path) else []
    merged = merge_fn(read_stored(spark, base_path, state, paths))
    merged.write.mode("overwrite").parquet(tmp)
    run_id = run_id or (state or {}).get("run")
    write_applied(tmp, run_id, batch_id, schema=merged.schema.json())
    swap_in(tmp, base_path, old)


def accumulate_batch(
    batch: DataFrame,
    base_path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    batch_id: int,
    run_id: Optional[str] = None,
) -> None:
    """Apply one micro-batch of ADDITIVE deltas onto the parquet table at
    ``base_path``: stored row = running sum of every delta seen per key.

    Unlike last-write upsert, accumulation is NOT idempotent on replay —
    re-adding a batch double-counts — so the applied batch id rides inside
    the swapped table directory (:func:`rewrite_exactly_once`): a batch
    that applied but crashed before the checkpoint commit is replayed by
    the engine and skipped here by the marker.

    Plan shape per batch: deltas pre-aggregate map-side to one row per
    key, then :func:`operators.merge.merge_additive` (broadcast left join,
    keys-only anti join — the base never shuffles).
    """
    rewrite_exactly_once(
        batch.sparkSession,
        base_path,
        batch_id,
        run_id,
        lambda base: merge_additive(
            base, sum_per_key(batch, keys, sum_cols), keys, sum_cols
        ),
        "accumulate_batch: base table",
    )


def stream_accumulate_to_parquet(
    deltas: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    available_now: bool = True,
):
    """Maintain a parquet table of per-key RUNNING SUMS from a stream of
    additive deltas (counts, totals) — the sink for incrementally-built
    aggregates like the stateful transition-graph edge list
    (``streaming.stateful.streaming_transition_counts``): drain the edge
    deltas through this and the stored table equals the batch edge
    counts, ready for e.g. PageRank over a continuously-updated graph.

    Exactly-once via the in-table batch marker (see
    :func:`accumulate_batch`); same crash-recoverable swap as the upsert
    sink.  Append mode: every delta row is emitted exactly once and then
    added into the base — matching the stateful edge-builder's output
    mode."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        accumulate_batch(
            batch, base_path, keys, sum_cols, batch_id, run_id=run_id
        )

    return start_sink(deltas, checkpoint, apply, "append", available_now)


__all__ = [
    "compact_last_per_key",
    "stream_upsert_to_parquet",
    "stream_accumulate_to_parquet",
    "accumulate_batch",
    "rewrite_exactly_once",
]
