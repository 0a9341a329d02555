"""Incremental MinHash-LSH index: the union of per-batch pair outputs
must equal the one-shot batch operator over the full corpus; replays are
idempotent; a fresh checkpoint against an existing index fails loudly."""

import os

import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.dedup import minhash_neardup_pairs
from label_maker_dask_spark.streaming.neardup import (
    apply_neardup_batch,
    stream_neardup_index,
)

THRESH = 0.3


def _docs(spark):
    """Deterministic corpus with cross-batch near-dups: docs 100+i are
    light edits of docs i (shared prefix), so splitting by id puts the
    original and its variant in DIFFERENT batches."""
    base = (
        "the quick brown fox jumps over the lazy dog near the river "
        "bank while watching boats drift slowly past the old mill"
    )
    rows = []
    for i in range(12):
        rows.append((i, f"{base} variant number {i} with tail {i * 7}"))
        rows.append((100 + i, f"{base} variant number {i} with tail edited"))
    rows.append((500, "completely unrelated text about spark and parquet"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    }


def _pairs_list(df):
    """Sorted MULTI-set — duplicates count (a set compare is blind to
    the replay-duplication failure mode)."""
    return sorted(
        (r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect()
    )


def test_union_of_batches_equals_batch_operator(spark, tmp_path):
    docs = _docs(spark)
    want = _pairs_set(
        minhash_neardup_pairs(docs, threshold=THRESH).select(
            "id_a", "id_b", "jaccard"
        )
    )
    assert len(want) >= 12  # the corpus genuinely has cross-batch pairs

    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    b1 = docs.where(F.col("doc_id") < 100)
    b2 = docs.where(F.col("doc_id") >= 100)
    apply_neardup_batch(b1, 0, index, pairs, "run-a", threshold=THRESH)
    apply_neardup_batch(b2, 1, index, pairs, "run-a", threshold=THRESH)
    got = _pairs_set(
        spark.read.parquet(pairs).select("id_a", "id_b", "jaccard")
    )
    assert got == want
    # at least one emitted pair crosses the batch boundary
    assert any(a < 100 <= b for a, b, _ in got)


def test_replay_is_idempotent(spark, tmp_path):
    docs = _docs(spark)
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    b1 = docs.where(F.col("doc_id") < 100)
    b2 = docs.where(F.col("doc_id") >= 100)
    apply_neardup_batch(b1, 0, index, pairs, "run-a", threshold=THRESH)
    apply_neardup_batch(b2, 1, index, pairs, "run-a", threshold=THRESH)
    before = _pairs_list(spark.read.parquet(pairs))
    assert len(before) == len(set(before))  # no duplicate rows ever
    # crash-replay of the LAST batch: its own already-written bands and
    # profiles are on disk, and MUST NOT join against themselves — the
    # rewritten partition is row-for-row identical, not just set-equal
    apply_neardup_batch(b2, 1, index, pairs, "run-a", threshold=THRESH)
    assert _pairs_list(spark.read.parquet(pairs)) == before
    # a strictly-older batch id under the same run is a no-op
    apply_neardup_batch(b1, 0, index, pairs, "run-a", threshold=THRESH)
    assert _pairs_list(spark.read.parquet(pairs)) == before


def test_replay_after_crash_before_marker_is_row_identical(
    spark, tmp_path, monkeypatch
):
    """A crash after batch 1's writes but before its marker leaves the
    marker at batch 0, so the replay of batch 1 re-applies.  Its own
    bands and profiles are already on disk and must not join against
    themselves: the rewritten pairs equal a clean run's, row for row."""
    import label_maker_dask_spark.streaming.neardup as nd

    docs = _docs(spark)
    b1 = docs.where(F.col("doc_id") < 100)
    b2 = docs.where(F.col("doc_id") >= 100)
    clean_idx, clean_pairs = str(tmp_path / "ci"), str(tmp_path / "cp")
    apply_neardup_batch(b1, 0, clean_idx, clean_pairs, "run-a", threshold=THRESH)
    apply_neardup_batch(b2, 1, clean_idx, clean_pairs, "run-a", threshold=THRESH)
    want = _pairs_list(spark.read.parquet(clean_pairs))

    index, pairs = str(tmp_path / "index"), str(tmp_path / "pairs")
    apply_neardup_batch(b1, 0, index, pairs, "run-a", threshold=THRESH)
    write_state = nd.write_state

    def crash_on_batch_1(dir_path, name, state):
        if state["batch"] == 1:
            raise RuntimeError("injected crash before the marker")
        write_state(dir_path, name, state)

    monkeypatch.setattr(nd, "write_state", crash_on_batch_1)
    with pytest.raises(RuntimeError, match="injected crash"):
        apply_neardup_batch(b2, 1, index, pairs, "run-a", threshold=THRESH)
    monkeypatch.undo()
    apply_neardup_batch(b2, 1, index, pairs, "run-a", threshold=THRESH)
    assert _pairs_list(spark.read.parquet(pairs)) == want


def test_fresh_run_against_existing_index_raises(spark, tmp_path):
    docs = _docs(spark)
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    apply_neardup_batch(
        docs.where(F.col("doc_id") < 100), 0, index, pairs, "run-a",
        threshold=THRESH,
    )
    with pytest.raises(ValueError, match="stream run"):
        apply_neardup_batch(
            docs.where(F.col("doc_id") >= 100), 0, index, pairs, "run-b",
            threshold=THRESH,
        )


def test_streaming_drain_matches_batch(spark, tmp_path):
    """End-to-end through writeStream/foreachBatch with a file source:
    two availableNow drains, then the pairs table equals the batch
    operator over everything ingested."""
    docs = _docs(spark)
    src = str(tmp_path / "src")
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")

    def drain(part):
        part.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(
            src
        )
        q = stream_neardup_index(
            stream, index, pairs, ckpt, threshold=THRESH
        )
        q.awaitTermination(120)

    drain(docs.where(F.col("doc_id") < 100))
    drain(docs.where(F.col("doc_id") >= 100))
    want = _pairs_set(
        minhash_neardup_pairs(docs, threshold=THRESH).select(
            "id_a", "id_b", "jaccard"
        )
    )
    got = _pairs_set(
        spark.read.parquet(pairs).select("id_a", "id_b", "jaccard")
    )
    assert got == want
    assert os.path.isdir(os.path.join(index, "bands"))
    assert os.path.isdir(os.path.join(index, "profiles"))


def test_marker_written_before_first_data_write(spark, tmp_path, monkeypatch):
    """The run marker must claim the index BEFORE any data lands: a
    crash during the very first batch then still leaves the marker, so
    a later run under a different run id hits the foreign-run guard
    instead of silently overwriting batch partitions.

    The crash is INJECTED mid-batch (profile construction raises, i.e.
    after the claim, before any data write) — without the injection
    this test is vacuous, because a batch that completes writes the
    same marker at its end anyway."""
    import json

    import label_maker_dask_spark.streaming.neardup as nd

    docs = _docs(spark)
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")

    def boom(*a, **k):
        raise RuntimeError("injected first-batch crash")

    monkeypatch.setattr(nd, "minhash_doc_profiles", boom)
    with pytest.raises(RuntimeError, match="injected first-batch crash"):
        apply_neardup_batch(
            docs.where(F.col("doc_id") < 100), 0, index, pairs, "run-a",
            threshold=THRESH,
        )
    # the claim survived the crash: batch=-1 = "claimed, nothing durable"
    marker = os.path.join(index, "_lmds_neardup_batch")
    assert os.path.exists(marker)
    state = json.loads(open(marker).read())
    assert state["run"] == "run-a"
    assert state["batch"] == -1
    # ...so a different run id is refused instead of overwriting
    monkeypatch.undo()
    with pytest.raises(ValueError, match="stream run"):
        apply_neardup_batch(
            docs.where(F.col("doc_id") < 100), 0, index, pairs, "run-b",
            threshold=THRESH,
        )
    # and the ORIGINAL run can resume batch 0 normally after the crash
    apply_neardup_batch(
        docs.where(F.col("doc_id") < 100), 0, index, pairs, "run-a",
        threshold=THRESH,
    )
    assert json.loads(open(marker).read())["batch"] == 0


def test_bands_without_marker_is_refused(spark, tmp_path):
    """Band data with no marker has no provenance (this module always
    writes the marker first) — a run-id'd ingest must refuse rather
    than overwrite it."""
    docs = _docs(spark)
    index = str(tmp_path / "index")
    pairs = str(tmp_path / "pairs")
    # unmanaged state: bands dir exists, no marker anywhere
    os.makedirs(os.path.join(index, "bands", "batch=0"))
    with pytest.raises(ValueError, match="no run marker"):
        apply_neardup_batch(
            docs.where(F.col("doc_id") < 100), 0, index, pairs, "run-a",
            threshold=THRESH,
        )
