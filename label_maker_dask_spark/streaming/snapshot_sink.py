"""Snapshot-versioned maintenance sinks: every micro-batch publishes the
maintained table as a new immutable snapshot version.

The rename-aside sinks (:mod:`streaming.upsert`, :mod:`streaming.bucketed`)
destroy history — after a bad batch (upstream bug, poisoned CDC feed) the
previous state is gone.  These variants publish each batch's merged result
through :func:`sources.snapshots.write_snapshot` instead:

- **pinned reads**: a training run reads ``v=N`` forever while
  maintenance keeps publishing;
- **O(1) rollback**: ``sources.snapshots.rollback`` repoints ``_latest``
  at any retained version — no data rewritten;
- **exactly-once, folded into the snapshot**: the version's metadata
  carries the batch marker (run id + batch id, :mod:`streaming.commit`)
  and publishes with the data in one atomic rename.  On replay the
  highest version's marker decides: an already-published batch is
  skipped (and ``_latest`` re-pointed at it, healing a crash between the
  version rename and the pointer move).

Maintenance lineage follows the HIGHEST version, not the ``_latest``
pointer — a consumer-facing rollback must not silently fork the
maintained state.  The rollback-and-replay contract is therefore: roll
back, replay the stream, and the replayed batches re-point ``_latest``
forward onto the same lineage (tested in tests/test_snapshot_sink.py).

Storage: each version is a full copy (the price of O(1) rollback without
a table-format transaction log); ``keep`` bounds retained versions via
``expire_snapshots`` after each publish.  For base tables where the
per-batch full write itself is the bottleneck, the bucketed sink is the
scale path and this sink is the auditability path — the two trade a
knob the user picks per table.
"""

from __future__ import annotations

from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame

from label_maker_dask_spark.operators.merge import (
    merge_additive,
    merge_upsert_delta,
    sum_per_key,
)
from label_maker_dask_spark.sources.snapshots import (
    _point_latest,
    _versions,
    expire_snapshots,
    read_snapshot,
    snapshot_metadata,
    write_snapshot,
)
from label_maker_dask_spark.streaming.commit import already_applied, start_sink
from label_maker_dask_spark.streaming.upsert import compact_last_per_key


def _apply_snapshot(
    batch: DataFrame,
    table_path: str,
    batch_id: int,
    run_id: Optional[str],
    keep: Optional[int],
    merge_fn: Callable[[Optional[DataFrame]], DataFrame],
) -> Optional[int]:
    """Publish ``merge_fn(lineage tip or None)`` as the next version;
    None on an already-applied replay.  The lineage tip is the HIGHEST
    version, independent of where ``_latest`` points.  A replay re-points
    ``_latest`` at the published batch, healing a crash between version
    rename and pointer move."""
    vs = _versions(table_path)
    tip = vs[-1] if vs else None
    meta = snapshot_metadata(table_path, tip) if tip is not None else None
    if already_applied(
        meta, run_id, batch_id, f"snapshot sink: table {table_path!r}"
    ):
        _point_latest(table_path, tip)
        return None
    base = None
    if tip is not None:
        base = read_snapshot(batch.sparkSession, table_path, version=tip)
    v = write_snapshot(
        merge_fn(base), table_path, metadata={"run": run_id, "batch": batch_id}
    )
    if keep is not None:
        expire_snapshots(table_path, keep=keep)
    return v


def upsert_snapshot_batch(
    batch: DataFrame,
    table_path: str,
    keys: Sequence[str],
    seq_col: str,
    batch_id: int,
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    run_id: Optional[str] = None,
    keep: Optional[int] = None,
) -> Optional[int]:
    """Apply one CDC micro-batch, publishing the merged table as the next
    snapshot version; returns the published version (None if the batch
    was an already-applied replay)."""
    compacted = compact_last_per_key(batch, keys, seq_col).drop(seq_col)
    return _apply_snapshot(
        batch, table_path, batch_id, run_id, keep,
        lambda base: merge_upsert_delta(
            base, compacted, keys, update_cols, delete_col
        ),
    )


def accumulate_snapshot_batch(
    batch: DataFrame,
    table_path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    batch_id: int,
    run_id: Optional[str] = None,
    keep: Optional[int] = None,
) -> Optional[int]:
    """Additive twin of :func:`upsert_snapshot_batch`: per-key running
    sums, one snapshot version per batch.  The in-snapshot marker is what
    makes the non-idempotent addition exactly-once under replay."""
    agg = sum_per_key(batch, keys, sum_cols)
    return _apply_snapshot(
        batch, table_path, batch_id, run_id, keep,
        lambda base: merge_additive(base, agg, keys, sum_cols),
    )


def stream_upsert_to_snapshots(
    changes: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: Sequence[str],
    seq_col: str,
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    keep: Optional[int] = None,
    available_now: bool = True,
):
    """:func:`streaming.upsert.stream_upsert_to_parquet` semantics, but
    every batch publishes a snapshot version (pinned reads + O(1)
    rollback) instead of overwriting the base in place.  ``keep`` bounds
    retained versions (None = keep all)."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        upsert_snapshot_batch(
            batch, table_path, keys, seq_col, batch_id,
            update_cols=update_cols, delete_col=delete_col,
            run_id=run_id, keep=keep,
        )

    return start_sink(changes, checkpoint, apply, "update", available_now)


def stream_accumulate_to_snapshots(
    deltas: DataFrame,
    table_path: str,
    checkpoint: str,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    keep: Optional[int] = None,
    available_now: bool = True,
):
    """:func:`streaming.upsert.stream_accumulate_to_parquet` semantics
    with snapshot-versioned publishes."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        accumulate_snapshot_batch(
            batch, table_path, keys, sum_cols, batch_id,
            run_id=run_id, keep=keep,
        )

    return start_sink(deltas, checkpoint, apply, "append", available_now)


__all__ = [
    "upsert_snapshot_batch",
    "accumulate_snapshot_batch",
    "stream_upsert_to_snapshots",
    "stream_accumulate_to_snapshots",
]
