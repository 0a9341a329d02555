"""The exactly-once commit protocol every maintenance sink shares.

Structured Streaming makes a query exactly-once end to end when a
replayable source feeds a sink that is idempotent or guarded by a marker
(Armbrust et al., *Structured Streaming*, SIGMOD 2018): the checkpoint's
epoch log skips batches whose commit completed, and the sink itself must
make the replay of an applied-but-uncommitted batch harmless.  The sinks
in :mod:`streaming` and ``operators/{scd,similarity}.py`` differ only in
their table layouts; this module is the protocol they share:

- :func:`start_sink` — the one ``foreachBatch`` driver: mints the run id,
  skips empty micro-batches, hands ``(batch, batch_id, run_id)`` to the
  sink's apply function;
- **run id** (:func:`ensure_run_id`) — minted once per checkpoint and
  stored inside it.  Batch ids restart from 0 whenever a checkpoint is
  recreated, so a bare batch-id marker would silently skip every delta
  of a fresh stream pointed at an existing table;
- **replay guard** (:func:`already_applied`) — a sink's marker records
  ``{"run", "batch"}`` of the last batch it applied; a foreign run raises,
  a batch at or below the recorded one is an applied replay;
- **state files** (:func:`read_state` / :func:`write_state`) — JSON
  written to a tmp file and ``os.replace``-d, so a reader never sees a
  torn record.  The record of a maintained table also keeps its schema,
  which :func:`read_stored` reads the table with;
- **single-writer lock** (:func:`writer_lock`) — the run id catches
  checkpoint resets *between* batches, the lock catches two writers
  racing *within* one;
- **append bracket** (:func:`append_exactly_once`) — intent record with
  the pre-append :func:`inventory` (every subdirectory of ``path/data``),
  for appends that are not idempotent; :func:`rollback_inventory`
  removes a torn write's partial files;
- **rename-aside swap** (:func:`swap_in` / :func:`recover_swap`) — a
  rewritten directory replaces its base only once it is complete, and
  every crash point leaves a state the recovery finishes.  Each entry
  point that writes a tmp dir recovers first, so no sink has to
  remember to.

The paths are explicit, so each layout keeps its own names:

- the plain maintained tables (``streaming/upsert.py``) swap
  ``<base>._applying`` through ``<base>._old``;
- ``sources/layout.compact_small_files`` swaps ``<path>._compacting``;
- the bucketed tables (``streaming/bucketed.py``) swap each
  ``<base>._scratch/lmdsb=i`` through ``<base>._old/lmdsb=i``;
- immutable versions (``streaming/versioned.py``) never swap;
- the stored ANN indexes (IVF, PQ, SRP) share one layout, which lives
  in ``operators/index_layout.py``: a partitioned base, a delta zone
  that appends land in under the append bracket, and one compaction
  with its own intent/completion records.  The IVF rebalance
  (``operators/similarity.recover_ivf_rebalance``) swaps many
  directories all-or-nothing, decided by its journal.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import uuid
from typing import Callable, Iterator, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql.types import IntegerType, StructType

_LOCK_NAME = "_lmds_writer_lock"
_BATCH_MARKER = "_lmds_applied_batch"
_RUN_ID = "_lmds_run_id"
_APPEND_INTENT = "_lmds_appending"
_APPEND_APPLIED = "_lmds_applied"


def write_text(path: str, text: str) -> None:
    """Write ``text`` to ``path`` atomically (tmp file + ``os.replace``)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(text)
    os.replace(tmp, path)


def read_state(dir_path: str, name: str) -> Optional[dict]:
    """The JSON state file ``dir_path/name``, or None when absent."""
    path = os.path.join(dir_path, name)
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        return json.load(fh)


def write_state(dir_path: str, name: str, state: dict) -> None:
    """Atomically (re)write the JSON state file ``dir_path/name``."""
    os.makedirs(dir_path, exist_ok=True)
    write_text(os.path.join(dir_path, name), json.dumps(state))


def ensure_run_id(checkpoint: str) -> str:
    """The sink's run identity, stored inside the checkpoint directory so
    table and checkpoint age together (module docstring)."""
    os.makedirs(checkpoint, exist_ok=True)
    path = os.path.join(checkpoint, _RUN_ID)
    if os.path.exists(path):
        with open(path) as fh:
            return fh.read().strip()
    run_id = uuid.uuid4().hex
    write_text(path, run_id)
    return run_id


def applied_state(dir_path: str) -> Optional[dict]:
    """The ``_lmds_applied_batch`` marker of a table (or bucket)
    directory: ``{"run": ..., "batch": N}``, or None."""
    return read_state(dir_path, _BATCH_MARKER)


def write_applied(
    dir_path: str, run_id: Optional[str], batch_id: int, **fields
) -> None:
    """Write the marker ``{"run", "batch", **fields}`` into ``dir_path``
    (a plain table's marker also keeps its ``schema``)."""
    write_state(
        dir_path, _BATCH_MARKER, {"run": run_id, "batch": batch_id, **fields}
    )


def read_stored(
    spark, base: str, state: Optional[dict], paths: List[str], *part_cols: str
) -> Optional[DataFrame]:
    """Read ``paths`` of the maintained table at ``base`` with the
    ``schema`` its state record stores, plus the int partition columns
    ``part_cols``, so no job infers it from parquet footers.  A record
    without a schema (none yet, or one written before the field existed)
    falls back to inference.  None when ``paths`` is empty."""
    if not paths:
        return None
    reader = spark.read.option("basePath", base)
    if (state or {}).get("schema"):
        schema = StructType.fromJson(json.loads(state["schema"]))
        for col in part_cols:
            schema = schema.add(col, IntegerType())
        reader = reader.schema(schema)
    return reader.parquet(*paths)


def already_applied(
    state: Optional[dict], run_id: Optional[str], batch_id: int, what: str
) -> bool:
    """The replay guard.  ``state`` is a sink's recorded ``{"run",
    "batch"}`` (None when nothing was applied yet).  Raises when the
    record belongs to a different stream run; returns whether
    ``batch_id`` was already applied.  ``run_id=None`` (a direct batch
    call) skips the run check."""
    state = state or {}
    stored_run = state.get("run")
    if run_id is not None and stored_run is not None and stored_run != run_id:
        raise ValueError(
            f"{what} was built by a different stream run ({stored_run!r}, "
            f"this run {run_id!r}).  Batch ids are only comparable within "
            "one checkpoint lifetime; applying this stream would silently "
            "drop or double-apply batches.  Recreate the table and the "
            "checkpoint together, or point this stream at a fresh path."
        )
    return int(state.get("batch", -1)) >= batch_id


def start_sink(
    stream: DataFrame,
    checkpoint: str,
    apply: Callable[[DataFrame, int, str], None],
    output_mode: str,
    available_now: bool,
):
    """Start ``stream`` through ``foreachBatch``; returns the
    StreamingQuery.  Every non-empty micro-batch reaches
    ``apply(batch, batch_id, run_id)``; an empty one never does, so it
    creates no table and no marker."""
    run_id = ensure_run_id(checkpoint)

    def each(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        apply(batch, batch_id, run_id)

    writer = (
        stream.writeStream.foreachBatch(each)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def break_writer_lock(base_path: str) -> bool:
    """Manually remove a maintained table's writer lock.  ONLY for
    operator intervention after verifying the writer named in the lock
    file is dead — breaking a live writer's lock reintroduces exactly
    the concurrent-publish corruption the lock exists to prevent.
    Returns True if a lock was removed."""
    path = os.path.join(base_path, _LOCK_NAME)
    if os.path.exists(path):
        os.remove(path)
        return True
    return False


def _holder_is_dead(holder: dict) -> bool:
    """Whether a lock file's recorded holder is verifiably dead.  Same
    pid on the same host is THIS process (its own crash leftover from an
    earlier batch).  A different pid on the same host is probed with
    ``os.kill(pid, 0)`` — only ``ProcessLookupError`` proves death
    (``PermissionError`` means alive-but-other-user).  A holder on
    another host, or one with no usable pid/host, is unverifiable and
    treated as alive — the caller must fail rather than guess."""
    pid, host = holder.get("pid"), holder.get("host")
    if not isinstance(pid, int) or host != socket.gethostname():
        return False
    if pid == os.getpid():
        return True
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return True
    except OSError:
        pass
    return False


@contextlib.contextmanager
def writer_lock(base_path: str, run_id: Optional[str]) -> Iterator[None]:
    """Single-writer guard for maintained tables: a create-exclusive lock
    file under the table root so a SECOND CONCURRENT WRITER fails fast
    instead of corrupting a publish (two interleaved apply calls could
    rename bucket directories over each other and publish manifests that
    reference half of each).

    Semantics:

    - acquisition is ``open(path, 'x')`` — atomic on a local/POSIX
      filesystem (on object stores, a table format's optimistic commit
      protocol replaces this file);
    - a lock left behind by OUR OWN run (same non-None ``run_id``) is
      reclaimed ONLY when the recorded holder is verifiably dead: same
      process (a crash leftover from an earlier batch of this writer),
      or same host with ``os.kill(pid, 0)`` reporting no such process.
      "One writer per run" holds within one driver (``foreachBatch``
      executes batches serially) but NOT across drivers — a second
      driver started from the same checkpoint carries the same run id,
      and reclaiming its live lock would let both interleave bucket
      swaps, the exact corruption the lock prevents;
    - a matching-run lock whose holder is alive, or on another host
      (liveness unverifiable), raises like any foreign lock;
    - any other lock raises, naming the holder and the
      :func:`break_writer_lock` escape hatch for a verified-dead
      holder.  With ``run_id=None`` (direct batch calls) every leftover
      lock is treated as foreign — fail-loud beats guessing."""
    os.makedirs(base_path, exist_ok=True)
    path = os.path.join(base_path, _LOCK_NAME)
    token = {
        "run": run_id,
        "pid": os.getpid(),
        "host": socket.gethostname(),
        "nonce": uuid.uuid4().hex,
    }
    payload = json.dumps(token)
    try:
        with open(path, "x") as fh:
            fh.write(payload)
    except FileExistsError:
        try:
            with open(path) as fh:
                holder = json.loads(fh.read() or "{}")
        except (OSError, ValueError):
            holder = {}
        if (
            run_id is not None
            and holder.get("run") == run_id
            and _holder_is_dead(holder)
        ):
            # our own run's verified-dead crash leftover — reclaim
            write_text(path, payload)
        else:
            raise ValueError(
                f"writer_lock: table {base_path!r} is locked by another "
                f"writer (holder {holder!r}). Concurrent maintenance of "
                "one base table is not supported — stop the other "
                "writer, or if it is verified dead, remove the lock "
                "with streaming.commit.break_writer_lock()."
            )
    try:
        yield
    finally:
        # release only if we still hold it (a broken+re-acquired lock
        # belongs to someone else now)
        try:
            with open(path) as fh:
                holder = json.loads(fh.read() or "{}")
            if holder.get("nonce") == token["nonce"]:
                os.remove(path)
        except (OSError, ValueError):
            pass


def inventory(path: str) -> dict:
    """``{subdirectory: sorted file names}`` for every subdirectory of
    ``path/data``: the partitions and the delta zone alike
    (:mod:`operators.index_layout`).  This is the pre-write record an
    intent holds, and what :func:`rollback_inventory` compares it to."""
    data = os.path.join(path, "data")
    if not os.path.isdir(data):
        return {}
    return {
        name: sorted(os.listdir(os.path.join(data, name)))
        for name in os.listdir(data)
        if os.path.isdir(os.path.join(data, name))
    }


def append_pending(path: str) -> bool:
    """Whether an append into ``path/data`` was interrupted: its intent
    record is still present, so the data may hold a torn batch's files
    until the batch is replayed."""
    return read_state(path, _APPEND_INTENT) is not None


def append_exactly_once(
    path: str,
    batch_id: int,
    run_id: Optional[str],
    do_append: Callable[[], None],
    what: str,
) -> bool:
    """Replay-safety bracket for an append under ``path/data`` (a stored
    index's delta zone).  A bare append is NOT idempotent: replaying a
    crashed micro-batch would append its rows twice.  The append is
    bracketed with an intent record (``_lmds_appending``) holding the
    PRE-append :func:`inventory`: a replay that finds the intent rolls
    the torn append back (:func:`rollback_inventory`), then re-appends;
    a replay of a fully-applied batch is skipped by the applied record
    (``_lmds_applied``); a foreign run id raises.  Returns True when the
    batch was applied, False on an already-applied replay."""
    if already_applied(
        read_state(path, _APPEND_APPLIED), run_id, batch_id,
        f"{what} append: index {path!r}",
    ):
        return False
    intent = read_state(path, _APPEND_INTENT)
    if intent is not None:
        if int(intent.get("batch", -1)) == batch_id:
            # torn append of THIS batch: remove its partial files
            rollback_inventory(path, intent.get("existing", {}))
        # a stale intent from an APPLIED batch (crash between the applied
        # marker and the intent removal) carries no partial files
        os.remove(os.path.join(path, _APPEND_INTENT))
    write_state(
        path,
        _APPEND_INTENT,
        {"run": run_id, "batch": batch_id, "existing": inventory(path)},
    )
    do_append()
    write_state(path, _APPEND_APPLIED, {"run": run_id, "batch": batch_id})
    os.remove(os.path.join(path, _APPEND_INTENT))
    return True


def rollback_inventory(path: str, existing: dict) -> None:
    """Undo a torn write into ``path/data``.  ``existing`` is the
    :func:`inventory` taken before the write: files it does not list
    are removed from the subdirectories it lists.  A subdirectory it
    does not list was made by the write, and is removed whole, when it
    is a partition (``col=v``) of a column the record lists, or when it
    is not a partition and the record lists nothing.  Other unlisted
    subdirectories stay: an intent written by an earlier version listed
    only the subdirectories its writer wrote into (the IVF cells, the PQ
    delta zone or the PQ buckets), and was empty when that zone did not
    exist yet."""
    cols = {p.split("=", 1)[0] for p in existing if "=" in p}
    data = os.path.join(path, "data")
    for part, files in inventory(path).items():
        pdir = os.path.join(data, part)
        if part in existing:
            for f in set(files) - set(existing[part]):
                fp = os.path.join(pdir, f)
                (shutil.rmtree if os.path.isdir(fp) else os.remove)(fp)
        elif ("=" in part and part.split("=", 1)[0] in cols) or (
            "=" not in part and not existing
        ):
            shutil.rmtree(pdir)


def swap_in(tmp: str, base: str, old: str) -> None:
    """Replace the directory ``base`` by the complete directory ``tmp``:
    ``rename(base, old); rename(tmp, base); rmtree(old)``.  The base is
    never deleted before its replacement exists, and it is only set
    aside once ``tmp`` is complete, so every crash point leaves a state
    :func:`recover_swap` (with the same three paths) finishes."""
    if os.path.exists(base):
        os.rename(base, old)
    os.rename(tmp, base)
    if os.path.exists(old):
        shutil.rmtree(old)


def recover_swap(tmp: str, base: str, old: str) -> None:
    """Finish a :func:`swap_in` a crash interrupted (idempotent; a no-op
    when nothing is left over).  ``old`` present proves ``tmp`` was
    complete, so a missing ``base`` is promoted from ``tmp``; the
    set-aside copy is then dropped.  A ``tmp`` with no ``old`` is an
    incomplete write and is discarded — the replayed batch rewrites it."""
    if os.path.exists(old):
        if not os.path.exists(base):
            if os.path.exists(tmp):
                os.rename(tmp, base)
            else:  # unreachable by the swap's ordering, but restore anyway
                os.rename(old, base)
        if os.path.exists(old):
            shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)


__all__ = [
    "already_applied",
    "append_exactly_once",
    "append_pending",
    "applied_state",
    "break_writer_lock",
    "ensure_run_id",
    "inventory",
    "read_state",
    "read_stored",
    "recover_swap",
    "rollback_inventory",
    "start_sink",
    "swap_in",
    "write_applied",
    "write_state",
    "write_text",
    "writer_lock",
]
