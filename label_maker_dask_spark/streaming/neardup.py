"""Incremental near-duplicate index: maintain a MinHash-LSH index from a
document stream, emitting each micro-batch's verified near-dup pairs
against EVERYTHING ingested so far — the streaming form of
``operators.dedup.minhash_neardup_pairs``, for the pipeline that cannot
re-run corpus-wide dedup on every ingest.

Index layout (documents are immutable, so the index is append-only —
no merge/rewrite machinery needed, unlike the upsert sinks):

- ``<index>/bands/batch=<id>/``    — ``(doc_id, band, sig)`` rows, the
  LSH bucket keys of every ingested doc;
- ``<index>/profiles/batch=<id>/`` — ``(doc_id, shs)`` shingle-hash
  sets, read back only to exact-verify candidate pairs;
- ``<pairs>/batch=<id>/``          — the batch's verified output:
  ``(id_a, id_b, jaccard)`` where at least one side arrived in this
  batch (``id_a < id_b`` canonical order).

Per batch: one narrow Arrow pass builds the batch's profiles
(signatures + shingle sets, zero shuffles), the batch's band rows join
the stored band table (new-vs-old) and themselves (new-vs-new), and
candidates exact-verify through a shingle-set join — the same three
compact-key shuffles as the batch operator, except the band join's left
side is BATCH-sized, so per-ingest cost scales with the delta, not the
corpus.

Exactly-once (run ids, the replay guard, the writer lock:
:mod:`streaming.commit`): every write lands in its own ``batch=<id>``
directory with dynamic-partition OVERWRITE, so a batch replayed after a
crash before its marker rewrites its own output byte-identically and
touches nothing else; a batch whose marker landed is skipped.

Union-of-outputs == batch operator: pairs whose later member arrived in
batch b are emitted exactly at batch b, so the union over batches is
precisely ``minhash_neardup_pairs`` over the full corpus (equals-batch
test in tests/test_neardup_stream.py).

No counterpart in the reference (single-shot job, `main.py:90-97`);
Part-B engine surface composing dedup.py with the streaming sinks'
exactly-once discipline.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame

from label_maker_dask_spark.operators.materialize import materialize
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.dedup import (
    jaccard_verify_sets,
    lsh_candidate_pairs,
    minhash_band_rows,
    minhash_doc_profiles,
)
from label_maker_dask_spark.streaming.commit import (
    already_applied,
    read_state,
    start_sink,
    write_state,
    writer_lock,
)

_MARKER = "_lmds_neardup_batch"


def apply_neardup_batch(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    run_id: Optional[str] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> None:
    """Ingest one batch of documents: emit its verified pairs vs the
    whole index, then append its band rows + profiles.  Idempotent per
    (run_id, batch_id): every write overwrites only this batch's own
    partition directories.  The maintained base is guarded by the same
    single-writer lock as every other sink
    (:func:`streaming.commit.writer_lock`): a zombie driver resumed by a
    second driver on the same checkpoint carries the same run id, so
    without the lock both would pass the marker guard and interleave
    partition overwrites."""
    with writer_lock(index_path, run_id):
        _apply_neardup_batch_locked(
            batch, batch_id, index_path, pairs_path, run_id,
            text_col, id_col, n, k, bands, threshold,
        )


def _apply_neardup_batch_locked(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    pairs_path: str,
    run_id: Optional[str],
    text_col: str,
    id_col: str,
    n: int,
    k: int,
    bands: int,
    threshold: float,
) -> None:
    last = read_state(index_path, _MARKER)
    if run_id is not None and already_applied(
        last, run_id, batch_id, f"neardup index {index_path!r}"
    ):
        return  # the marker lands after every write: partitions are final
    if run_id is not None and last is None:
        # Claim the index for this run BEFORE the first data write
        # (batch=-1 = "claimed, nothing durable yet").  Without this, a
        # crash during the very first batch leaves data partitions on
        # disk with no marker, and a later run under a DIFFERENT run id
        # would sail past the foreign-run guard above and silently
        # overwrite them.  Marker-first closes that window; data present
        # without any marker can then only mean an index this module
        # never managed — refuse rather than guess.
        if os.path.isdir(os.path.join(index_path, "bands")):
            raise ValueError(
                f"neardup index {index_path!r} contains band data but "
                "no run marker — it was not built by this run and "
                "carries no provenance.  Point at a fresh index "
                "directory (or delete the stale one explicitly)."
            )
        write_state(index_path, _MARKER, {"run": run_id, "batch": -1})
    spark = batch.sparkSession
    # floor=False: the profile pass runs once PER MICRO-BATCH here, and
    # the parallelism floor's repartition of a batch-sized input adds an
    # exchange plus a 32-way partitioning that every one of this
    # function's three write actions re-schedules (measured +5.5 s per
    # replay cell at sf0.1); a production-sized delta arrives as many
    # source files and scans with parallelism anyway
    prof = minhash_doc_profiles(batch, text_col, id_col, n, k, floor=False)
    prof = prof.transform(materialize, eager=True)  # bands + self-pairs + verify

    new_bands = minhash_band_rows(prof.drop("shs"), bands)
    bands_dir = os.path.join(index_path, "bands")
    profiles_dir = os.path.join(index_path, "profiles")

    # candidates: new-vs-stored (batch-sized left side) + new-vs-new.
    # Stored-side reads EXCLUDE this batch's own partition (partition-
    # pruned filter): on a replay — crash after the writes, before the
    # checkpoint commit — batch N's bands/profiles are already on disk,
    # and reading them back would pair the batch against itself and
    # duplicate every verified row, breaking the byte-identical-replay
    # contract (the filter also covers a crash before the marker write).
    cand_new = lsh_candidate_pairs(prof.drop("shs"), bands)
    if os.path.isdir(bands_dir) and any(
        e.startswith("batch=") and e != f"batch={batch_id}"
        for e in os.listdir(bands_dir)
    ):
        stored = (
            spark.read.parquet(bands_dir)
            .where(F.col("batch") != batch_id)
            .drop("batch")
        )
        nb, sb = new_bands.alias("n"), stored.alias("s")
        cross = (
            nb.join(
                sb,
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.sig") == F.col("s.sig"))
                & (F.col("n.doc_id") != F.col("s.doc_id")),
            )
            .select(
                F.least(F.col("n.doc_id"), F.col("s.doc_id")).alias("id_a"),
                F.greatest(F.col("n.doc_id"), F.col("s.doc_id")).alias(
                    "id_b"
                ),
            )
            .distinct()
        )
        candidates = cand_new.unionByName(cross).distinct()
        shs_all = prof.select("doc_id", "shs").unionByName(
            spark.read.parquet(profiles_dir)
            .where(F.col("batch") != batch_id)
            .drop("batch")
        )
    else:
        candidates = cand_new
        shs_all = prof.select("doc_id", "shs")

    verified = jaccard_verify_sets(shs_all, candidates).where(
        F.col("jaccard") >= threshold
    )

    def write_batch(df: DataFrame, base: str) -> None:
        (
            df.withColumn("batch", F.lit(batch_id))
            .write.mode("overwrite")
            .partitionBy("batch")
            .option("partitionOverwriteMode", "dynamic")
            .parquet(base)
        )

    write_batch(verified, pairs_path)
    write_batch(new_bands, bands_dir)
    write_batch(prof.select("doc_id", "shs"), profiles_dir)
    if run_id is not None:
        write_state(index_path, _MARKER, {"run": run_id, "batch": batch_id})


def stream_neardup_index(
    docs: DataFrame,
    index_path: str,
    pairs_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    available_now: bool = True,
):
    """Start the maintenance stream; returns the StreamingQuery.  Read
    all pairs found so far with ``spark.read.parquet(pairs_path)``."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        apply_neardup_batch(
            batch, batch_id, index_path, pairs_path, run_id,
            text_col, id_col, n, k, bands, threshold,
        )

    return start_sink(docs, checkpoint, apply, "append", available_now)
