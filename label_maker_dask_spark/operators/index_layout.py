"""The one stored layout of the ANN indexes in :mod:`operators.similarity`.

An index at ``<path>`` keeps its sidecar (IVF ``centroids``, PQ
``codebook``) beside ``<path>/data``, which holds its rows in two parts:

- the **base**, partitioned by the index's assignment column
  (``data/<col>=v/``: IVF ``cell``, PQ ``bucket``), written by the build
  (:func:`write_base`), so a predicate on that column prunes whole
  directories at the scan;
- the **delta zone** ``data/_delta``, where every append lands
  (:func:`append_delta`) as files sorted by the partition column.  One
  append is one directory write however many partitions it touches
  (the per-partition append paid ~220 directory writes, 3.1 s of
  machinery, per PQ micro-batch at bench scale; SCALE.md), and the sort
  gives parquet row-group stats that prune inside the delta files.

:func:`read_index` returns base ∪ delta under one pruning predicate.
:func:`compact_index` folds the delta zone into the base partitions and
recovers a torn compaction on entry.  Appends are made exactly-once by
:func:`append_delta_exactly_once`, on the bracket of
:mod:`streaming.commit`, whose inventory lists every subdirectory of
``<path>/data``.  Spark's partition discovery skips ``_``-prefixed
directories, so a plain read of ``<path>/data`` sees the base only.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame

from label_maker_dask_spark.streaming.commit import (
    append_exactly_once,
    append_pending,
    inventory,
    read_state,
    rollback_inventory,
    write_state,
)

_DELTA = "_delta"
#: compaction intent: the pre-fold inventory, written before the fold
_COMPACTING = "_lmds_compacting"
#: compaction completion: the folded delta files, written after the fold
_COMPACTED = "_lmds_compacted"


def _data(path: str) -> str:
    return os.path.join(path, "data")


def _delta(path: str) -> str:
    return os.path.join(path, "data", _DELTA)


def _delta_files(path: str) -> list:
    """The delta zone's data files (not its ``_``/``.`` bookkeeping)."""
    d = _delta(path)
    if not os.path.isdir(d):
        return []
    return sorted(f for f in os.listdir(d) if not f.startswith(("_", ".")))


def write_base(rows: DataFrame, path: str, col: str) -> None:
    """(Re)write the index's rows as its base, partitioned by ``col``,
    with an empty delta zone: the zone exists from the build on, so the
    pre-append inventory of every exactly-once append lists it."""
    rows.write.partitionBy(col).mode("overwrite").parquet(_data(path))
    os.makedirs(_delta(path), exist_ok=True)


def append_delta(rows: DataFrame, path: str, col: str) -> None:
    """Append ``rows`` to the delta zone, sorted by the partition column
    ``col`` within each file.  ``col`` is stored last, the column order
    a partitioned base reads with, which is how :func:`compact_index`
    finds it."""
    (
        rows.select(*[c for c in rows.columns if c != col], col)
        .sortWithinPartitions(col)
        .write.mode("append")
        .parquet(_delta(path))
    )


def append_delta_exactly_once(
    path: str,
    batch_id: int,
    run_id: Optional[str],
    do_append: Callable[[], None],
    what: str,
) -> bool:
    """``do_append`` (an :func:`append_delta`) under the replay-safety
    bracket :func:`streaming.commit.append_exactly_once`.  The delta
    zone is made first, since an index built before the build made it
    has none, so the intent's inventory lists it and a torn append rolls
    back.  Returns True when the batch was applied."""
    os.makedirs(_delta(path), exist_ok=True)
    return append_exactly_once(path, batch_id, run_id, do_append, what)


def read_index(
    spark,
    path: str,
    where: Optional[Column] = None,
    schema: Optional[str] = None,
) -> DataFrame:
    """The index's rows: the base ∪ the delta zone, each filtered by
    ``where``, a predicate on the partition column.  On the base it is a
    partition filter (non-matching directories never leave storage); on
    the delta zone it is a pushed-down filter that row-group stats prune
    by (:func:`compact_index` restores directory pruning).  An index
    that stores no rows (built from none) reads as zero rows of
    ``schema``, a DDL string; without one it fails as an empty parquet
    directory does.

    Nothing here recovers a failed :func:`compact_index`: until it is
    run again, the torn fold's partial base files are read beside the
    intact delta zone, so some rows are read twice.  After a failed
    compaction, rerun :func:`compact_index` before serving reads."""
    data = _data(path)
    frames = []
    if os.path.isdir(data) and any("=" in n for n in os.listdir(data)):
        frames.append(spark.read.parquet(data))
    if _delta_files(path):
        frames.append(spark.read.parquet(_delta(path)))
    if not frames:
        reader = spark.read if schema is None else spark.read.schema(schema)
        frames.append(reader.parquet(data))
    if where is not None:
        frames = [f.where(where) for f in frames]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _recover_compaction(path: str) -> None:
    """Finish or roll back a torn :func:`compact_index`.  A completion
    record means the fold finished: it takes PRECEDENCE over a lingering
    intent, which is retired without rollback (the fold's output is the
    legitimate base), and the listed delta files are deleted
    (idempotent).  An intent alone means the fold is incomplete: base
    files and partitions its inventory does not list are removed, and
    the delta files, still intact, fold again on the rerun.  The delta
    zone itself is never rolled back: the fold does not write into it,
    and appends made after the torn fold are committed batches."""
    done = read_state(path, _COMPACTED)
    if done is not None:
        if os.path.exists(os.path.join(path, _COMPACTING)):
            os.remove(os.path.join(path, _COMPACTING))
        for f in done.get("deltas", []):
            fp = os.path.join(_delta(path), f)
            if os.path.exists(fp):
                os.remove(fp)
        os.remove(os.path.join(path, _COMPACTED))
        return
    intent = read_state(path, _COMPACTING)
    if intent is not None:
        existing = intent.get("existing", {})
        if os.path.isdir(_delta(path)):
            existing[_DELTA] = os.listdir(_delta(path))
        rollback_inventory(path, existing)
        os.remove(os.path.join(path, _COMPACTING))


def compact_index(spark, path: str) -> int:
    """Fold the delta zone into the base partitions — the maintenance
    job that keeps stored reads partition-pruned as appends accumulate.
    Returns the number of delta files folded (0 = nothing to do).

    The partition column is the delta rows' last column (see
    :func:`append_delta`), so an index whose base has no partition yet
    compacts too.  Recovery of a torn compaction runs first.  Crash-safe
    in every window: the intent, written BEFORE the fold, holds the
    pre-fold inventory plus every partition the fold writes into (a torn
    fold's partials are removed and the fold reruns; delta files are not
    touched until the fold is complete), and the completion record is
    written BEFORE the intent is retired, so the fold's output never
    exists without a marker.  A failed compaction leaves rows that
    :func:`read_index` returns twice until this is run again.

    Refuses while an append intent is pending: the delta zone may then
    hold a crashed append's partial files, and folding them would put
    them beyond the replay's rollback, so the replayed re-append would
    duplicate those vectors."""
    _recover_compaction(path)
    if append_pending(path):
        raise RuntimeError(
            f"compact_index: index {path!r} has a pending append intent "
            "(_lmds_appending) — a crashed streaming append may have left "
            "partial delta files.  Let the stream replay the batch (its "
            "exactly-once append recovers it) before compacting or "
            "rebalancing."
        )
    files = _delta_files(path)
    if not files:
        return 0
    rows = spark.read.parquet(*[os.path.join(_delta(path), f) for f in files])
    col = rows.columns[-1]
    existing = inventory(path)
    for r in rows.select(col).distinct().collect():
        existing.setdefault(f"{col}={r[0]}", [])
    write_state(path, _COMPACTING, {"existing": existing})
    rows.write.partitionBy(col).mode("append").parquet(_data(path))
    write_state(path, _COMPACTED, {"deltas": existing[_DELTA]})
    _recover_compaction(path)
    return len(files)


__all__ = [
    "append_delta",
    "append_delta_exactly_once",
    "compact_index",
    "read_index",
    "write_base",
]
