"""Snapshot-versioned parquet tables — reproducible dataset reads.

A training run must be able to pin EXACTLY the bytes it trained on while
curation keeps publishing new versions.  Without a table format in this
environment, the layer is the minimal immutable-snapshot scheme every
format builds on:

    <table>/v=1/part-*.parquet      (immutable once published)
    <table>/v=2/part-*.parquet
    <table>/_latest                 (text file: the current version number)

Writers publish a NEW version directory (written under a temp name, then
atomically renamed — a version is either absent or complete) and then
repoint ``_latest`` with the same tmp+rename trick.  Readers either follow
``_latest`` or pin an explicit version forever.  Old versions are never
mutated; ``expire_snapshots`` is the explicit GC.

Scale posture: publishing is one distributed write (no extra pass); the
pointer file is O(1).  Concurrent readers are safe at every instant: they
see the old pointer or the new one, and both targets are complete.  (What
this deliberately does NOT provide: multi-writer commit arbitration — two
simultaneous publishers race on the version number.  That is the part a
real table format's transaction log adds; single-writer pipelines, the
common curation shape, don't need it.)
"""

from __future__ import annotations

import os
import shutil
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession

from label_maker_dask_spark.streaming.commit import write_text


def _versions(table_path: str) -> List[int]:
    if not os.path.isdir(table_path):
        return []
    out = []
    for name in os.listdir(table_path):
        if name.startswith("v=") and name[2:].isdigit():
            out.append(int(name[2:]))
    return sorted(out)


def write_snapshot(df: DataFrame, table_path: str) -> int:
    """Publish ``df`` as the table's next immutable version; returns the
    new version number (1-based).  The snapshot directory appears
    atomically, and ``_latest`` is repointed only after it is complete."""
    os.makedirs(table_path, exist_ok=True)
    version = (_versions(table_path) or [0])[-1] + 1
    final = os.path.join(table_path, f"v={version}")
    tmp = os.path.join(table_path, f"_publishing_v{version}")
    df.write.mode("overwrite").parquet(tmp)
    os.rename(tmp, final)
    _point_latest(table_path, version)
    return version


def _point_latest(table_path: str, version: int) -> None:
    write_text(os.path.join(table_path, "_latest"), str(version))


def latest_version(table_path: str) -> Optional[int]:
    ptr = os.path.join(table_path, "_latest")
    if not os.path.exists(ptr):
        vs = _versions(table_path)
        return vs[-1] if vs else None
    with open(ptr) as fh:
        return int(fh.read().strip())


def read_snapshot(
    spark: SparkSession, table_path: str, version: Optional[int] = None
) -> DataFrame:
    """Read a pinned ``version``, or the current one when None.  A pinned
    read is reproducible forever (until an explicit expire)."""
    v = version if version is not None else latest_version(table_path)
    if v is None:
        raise FileNotFoundError(f"no snapshots published at {table_path}")
    path = os.path.join(table_path, f"v={v}")
    if not os.path.isdir(path):
        raise FileNotFoundError(
            f"snapshot v={v} does not exist at {table_path} "
            f"(have {_versions(table_path)})"
        )
    return spark.read.parquet(path)


def rollback(table_path: str, version: int) -> None:
    """Repoint ``_latest`` at an older (existing) version — an O(1)
    pointer move; no data is rewritten or deleted."""
    if version not in _versions(table_path):
        raise FileNotFoundError(
            f"cannot roll back to missing v={version} at {table_path}"
        )
    _point_latest(table_path, version)


def expire_snapshots(table_path: str, keep: int = 2) -> List[int]:
    """Delete all but the newest ``keep`` versions (never the one
    ``_latest`` points at); returns the removed version numbers."""
    vs = _versions(table_path)
    pinned = latest_version(table_path)
    removable = [v for v in vs[:-keep] if v != pinned] if keep > 0 else [
        v for v in vs if v != pinned
    ]
    for v in removable:
        shutil.rmtree(os.path.join(table_path, f"v={v}"))
    return removable


__all__ = [
    "write_snapshot",
    "read_snapshot",
    "latest_version",
    "rollback",
    "expire_snapshots",
]
