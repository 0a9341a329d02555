"""Focused contract tests for the replay harness's ordered-batch writer
(``queries_streaming_replay_ext._write_ordered_batches``), whose internals
changed in round 17: consecutive same-layout batches are now written in
ONE Spark job (union + ``partitionBy`` on a literal batch id) instead of
N sequential ``coalesce(1)`` jobs.  The observable contract the file
streaming source depends on must survive that change:

- exactly ONE parquet file lands per non-empty batch,
- file mtimes strictly increase in batch order (delivery order under
  ``maxFilesPerTrigger=1``),
- each file's row SET equals its batch frame's,
- pre-existing files (the restart harness's earlier leg) are untouched,
- mixed-schema sequences (the schema-evolution legs) and empty batches
  fall back to the per-batch write without breaking ordering.

The last test drives the one replay driver (``_drive``) itself: a
restart delivers each batch exactly once, and the shuffle-partition
conf is restored even when ``start`` raises.
"""

import os

import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.queries_streaming_replay_ext import (
    _drive,
    _write_ordered_batches,
)


def _files(d):
    return sorted(
        (os.path.getmtime(os.path.join(d, f)), f)
        for f in os.listdir(d)
        if not f.startswith(("_", "."))
    )


def _read_rows(spark, d, fname):
    return {
        tuple(r)
        for r in spark.read.parquet(os.path.join(d, fname)).collect()
    }


@pytest.fixture()
def changes_dir(tmp_path):
    d = tmp_path / "changes"
    d.mkdir()
    return str(d)


def test_one_file_per_batch_in_mtime_order(spark, changes_dir):
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    batches = [
        base.where(F.col("k") % 3 == i) for i in range(3)
    ]  # same layout -> grouped single-job write
    _write_ordered_batches(batches, changes_dir)

    files = _files(changes_dir)
    assert len(files) == 3
    mtimes = [t for t, _ in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    for i, (_, fname) in enumerate(files):
        expect = {tuple(r) for r in batches[i].collect()}
        assert _read_rows(spark, changes_dir, fname) == expect


def test_mixed_schema_sequence_falls_back_per_batch(spark, changes_dir):
    narrow = spark.range(5).select(F.col("id").alias("k"))
    wide = spark.range(5).select(
        F.col("id").alias("k"), F.lit("x").alias("tag")
    )
    _write_ordered_batches([narrow, wide, wide], changes_dir)

    files = _files(changes_dir)
    assert len(files) == 3
    assert [t for t, _ in files] == sorted(t for t, _ in files)
    # batch 0 narrow, batches 1-2 wide
    assert set(
        spark.read.parquet(
            os.path.join(changes_dir, files[0][1])
        ).columns
    ) == {"k"}
    assert set(
        spark.read.parquet(
            os.path.join(changes_dir, files[1][1])
        ).columns
    ) == {"k", "tag"}


def test_empty_batch_keeps_legacy_file_and_order(spark, changes_dir):
    base = spark.range(10).select(F.col("id").alias("k"))
    empty = base.where(F.lit(False))
    batches = [base.where(F.col("k") < 5), empty, base.where(F.col("k") >= 5)]
    _write_ordered_batches(batches, changes_dir)

    files = _files(changes_dir)
    # the legacy coalesce(1) path writes a schema-only file for an empty
    # frame; whatever it produces, ordering and non-empty contents hold
    non_empty = [
        f
        for _, f in files
        if len(_read_rows(spark, changes_dir, f)) > 0
    ]
    assert len(non_empty) == 2
    assert [t for t, _ in files] == sorted(t for t, _ in files)
    all_rows = set()
    for _, f in files:
        all_rows |= _read_rows(spark, changes_dir, f)
    assert all_rows == {tuple(r) for r in base.collect()}


def test_existing_files_untouched(spark, changes_dir):
    b0 = spark.range(4).select(F.col("id").alias("k"))
    _write_ordered_batches([b0], changes_dir)
    first = _files(changes_dir)
    assert len(first) == 1

    b1 = spark.range(4, 8).select(F.col("id").alias("k"))
    b2 = spark.range(8, 12).select(F.col("id").alias("k"))
    _write_ordered_batches([b1, b2], changes_dir)

    files = _files(changes_dir)
    assert len(files) == 3
    # the leg-1 file kept its name and mtime (only NEW files are
    # stamped; cross-leg mtime order is irrelevant — the restarted
    # source skips committed files via its own log)
    leg1 = [(t, f) for t, f in files if f == first[0][1]]
    assert leg1 == first
    # the leg-2 files are mutually mtime-ordered and distinct
    leg2 = [t for t, f in files if f != first[0][1]]
    assert leg2 == sorted(leg2) and len(set(leg2)) == 2


def test_drive_restart_delivers_each_batch_once_and_restores_conf(spark):
    base = spark.range(9).select(F.col("id").alias("k"))
    batches = [base.where(F.col("k") % 3 == i) for i in range(3)]
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    delivered, during = [], []

    def start(stream, out, ckpt):
        during.append(spark.conf.get(conf))
        return (
            stream.writeStream.foreachBatch(
                lambda b, _i: delivered.append(
                    sorted(r.k for r in b.collect())
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # two legs on one checkpoint: batch 0, then batches 1 and 2
    _drive(spark, "drive_restart", batches, "k long", start, stop_after=1,
           partitions="7")
    assert [b for b in delivered if b] == [[0, 3, 6], [1, 4, 7], [2, 5, 8]]
    assert during == ["7", "7"]
    assert spark.conf.get(conf) == before

    def failing_start(stream, out, ckpt):
        raise RuntimeError("start failed")

    with pytest.raises(RuntimeError, match="start failed"):
        _drive(spark, "drive_raise", batches, "k long", failing_start,
               partitions="7")
    assert spark.conf.get(conf) == before
