"""Bucket-pruned maintenance: per-batch rewrites touch only the bucket
directories whose keys appear in the delta (the 100 TB fix for the plain
sinks' full-table rewrite), with per-bucket crash recovery, exactly-once
partial-replay, and run-identity protection."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.streaming.bucketed import (
    BUCKET_COL,
    read_maintained_table,
    recover_buckets as _recover_bucketed,
    stream_accumulate_to_parquet_bucketed,
    stream_upsert_to_parquet_bucketed,
)

SCHEMA = "k long, v string, seq long, is_del boolean"


def _write_changes(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain_upsert(spark, changes_dir, base, ckpt, n_buckets=8):
    stream = spark.readStream.schema(SCHEMA).parquet(changes_dir)
    q = stream_upsert_to_parquet_bucketed(
        stream, base, ckpt, keys=["k"], seq_col="seq",
        delete_col="is_del", n_buckets=n_buckets,
    )
    q.awaitTermination(120)


def _bucket_files(base):
    """{bucket dir: {(file, mtime_ns)}} for every parquet part on disk."""
    out = {}
    for name in os.listdir(base):
        if not name.startswith(BUCKET_COL + "="):
            continue
        d = os.path.join(base, name)
        out[name] = {
            (f, os.stat(os.path.join(d, f)).st_mtime_ns)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }
    return out


def test_bucketed_upsert_creates_maintains_and_prunes(spark, tmp_path):
    changes = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")

    _write_changes(
        spark,
        changes,
        [(k, f"v{k}", 1, False) for k in range(1, 21)]
        + [(2, "v2b", 2, False)],
    )
    _drain_upsert(spark, changes, base, ckpt)
    got = {r.k: r.v for r in read_maintained_table(spark, base).collect()}
    want = {k: f"v{k}" for k in range(1, 21)}
    want[2] = "v2b"
    assert got == want
    # metadata columns never land; the bucket column is hidden
    assert set(read_maintained_table(spark, base).columns) == {"k", "v"}
    # a PLAIN parquet read still works and sees the bucket partition col
    plain = spark.read.parquet(base)
    assert BUCKET_COL in plain.columns
    assert plain.count() == 20

    before = _bucket_files(base)
    assert len(before) > 1  # keys actually spread over buckets

    # phase 2: delta touches ONE key — only its bucket may be rewritten
    _write_changes(spark, changes, [(1, "v1b", 3, False), (7, "x", 3, True)])
    _drain_upsert(spark, changes, base, ckpt)
    got = {r.k: r.v for r in read_maintained_table(spark, base).collect()}
    want = {k: v for k, v in want.items() if k != 7}
    want[1] = "v1b"
    assert got == want

    after = _bucket_files(base)
    touched = {
        name for name in before
        if name in after and after[name] != before[name]
    } | (set(after) ^ set(before))
    untouched = set(before) & set(after) - touched
    # the delta hit at most 2 buckets; every other bucket's files are
    # byte-for-byte the same inodes — the rewrite was pruned
    assert len(touched) <= 2
    assert len(untouched) >= len(before) - 2
    for name in untouched:
        assert after[name] == before[name]


def test_bucketed_accumulate_equals_plain_sink(spark, tmp_path):
    import time as _time

    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    dschema = "k long, w long"
    d = str(tmp_path / "deltas")
    rows1 = [(k % 11, 1) for k in range(200)]
    rows2 = [(k % 7, 2) for k in range(100)]
    spark.createDataFrame(rows1, dschema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    _time.sleep(1.1)
    spark.createDataFrame(rows2, dschema).coalesce(1).write.mode(
        "append"
    ).parquet(d)

    def stream():
        return (
            spark.readStream.schema(dschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    plain_base = str(tmp_path / "plain")
    q = stream_accumulate_to_parquet(
        stream(), plain_base, str(tmp_path / "ck1"), keys=["k"], sum_cols=["w"]
    )
    q.awaitTermination(120)

    bucketed_base = str(tmp_path / "bucketed")
    q = stream_accumulate_to_parquet_bucketed(
        stream(), bucketed_base, str(tmp_path / "ck2"),
        keys=["k"], sum_cols=["w"], n_buckets=8,
    )
    q.awaitTermination(120)

    plain = {r.k: r.w for r in spark.read.parquet(plain_base).collect()}
    buck = {
        r.k: r.w
        for r in read_maintained_table(spark, bucketed_base).collect()
    }
    assert plain == buck and len(buck) == 11


def test_bucketed_accumulate_partial_crash_replay_exactly_once(
    spark, tmp_path
):
    """Crash mid-batch: some buckets swapped (marker advanced), some not.
    Replaying the SAME batch must apply only the unswapped buckets —
    additive state is not idempotent, so this is the test that the
    per-bucket marker actually carries exactly-once."""
    from label_maker_dask_spark.streaming.bucketed import _apply_bucketed
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )

    base = str(tmp_path / "counts")

    def apply(rows, batch_id):
        agg = spark.createDataFrame(rows, "k long, w long").groupBy("k").agg(
            F.sum("w").alias("w")
        )
        _apply_bucketed(
            agg, base, ["k"], 8, batch_id, "run-a",
            lambda b, dd: dd if b is None else _additive_merge(
                b, dd, ["k"], ["w"]
            ),
        )

    apply([(k, 1) for k in range(16)], 0)

    # batch 1 touches every key; snapshot one bucket BEFORE, apply, then
    # restore that bucket — simulating a crash before its swap
    victim = next(
        n for n in sorted(os.listdir(base)) if n.startswith(BUCKET_COL + "=")
    )
    saved = str(tmp_path / "savedbucket")
    shutil.copytree(os.path.join(base, victim), saved)
    batch1 = [(k, 10) for k in range(16)]
    apply(batch1, 1)
    shutil.rmtree(os.path.join(base, victim))
    shutil.copytree(saved, os.path.join(base, victim))

    apply(batch1, 1)  # replay after "crash"
    got = {r.k: r.w for r in read_maintained_table(spark, base).collect()}
    assert got == {k: 11 for k in range(16)}  # nothing double-counted


def test_bucketed_fresh_checkpoint_against_existing_base_raises(
    spark, tmp_path
):
    """Batch ids restart at 0 with a fresh checkpoint; against an existing
    base the old marker would silently swallow every delta.  The run id
    makes it a loud error instead."""
    from pyspark.errors import StreamingQueryException

    dschema = "k long, w long"
    d = str(tmp_path / "deltas")
    spark.createDataFrame([(1, 5)], dschema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    base = str(tmp_path / "counts")

    def drain(ckpt):
        stream = spark.readStream.schema(dschema).parquet(d)
        q = stream_accumulate_to_parquet_bucketed(
            stream, base, ckpt, keys=["k"], sum_cols=["w"], n_buckets=4
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ck1"))
    assert {r.k: r.w for r in read_maintained_table(spark, base).collect()} == {
        1: 5
    }
    with pytest.raises(StreamingQueryException, match="different stream run"):
        drain(str(tmp_path / "ck2"))


def test_plain_accumulate_fresh_checkpoint_raises(spark, tmp_path):
    """Same protection on the non-bucketed sink (the advisor's silent
    data-loss case)."""
    from pyspark.errors import StreamingQueryException

    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    dschema = "k long, w long"
    d = str(tmp_path / "deltas")
    spark.createDataFrame([(1, 5)], dschema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    base = str(tmp_path / "counts")

    def drain(ckpt):
        stream = spark.readStream.schema(dschema).parquet(d)
        q = stream_accumulate_to_parquet(
            stream, base, ckpt, keys=["k"], sum_cols=["w"]
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ck1"))
    with pytest.raises(StreamingQueryException, match="different stream run"):
        drain(str(tmp_path / "ck2"))


def test_bucketed_concurrent_writer_raises(spark, tmp_path):
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )
    from label_maker_dask_spark.streaming.bucketed import _apply_bucketed
    from label_maker_dask_spark.streaming.commit import writer_lock

    base = str(tmp_path / "base")

    def apply(batch_id, run_id):
        delta = spark.createDataFrame([(1, 1)], "k long, w long")
        _apply_bucketed(
            delta, base, ["k"], 4, batch_id, run_id,
            lambda b, dd: dd if b is None else _additive_merge(
                b, dd, ["k"], ["w"]
            ),
        )

    apply(0, "run-a")
    with writer_lock(base, "run-b"):
        with pytest.raises(ValueError, match="locked by another writer"):
            apply(1, "run-a")
    apply(1, "run-a")  # lock released — next batch proceeds
    got = {r.k: r.w for r in read_maintained_table(spark, base).collect()}
    assert got == {1: 2}


def test_recover_bucketed_promotes_and_discards(spark, tmp_path):
    """Torn per-bucket swap: set-aside dir present + base bucket missing
    → promote from scratch; leftover scratch is discarded."""
    base = str(tmp_path / "base")
    bname = f"{BUCKET_COL}=3"

    def tbl(path, rows):
        spark.createDataFrame(rows, "k long, v string").coalesce(
            1
        ).write.parquet(path)

    os.makedirs(base)
    tbl(os.path.join(base + "._old", bname), [(3, "stale")])
    tbl(os.path.join(base + "._scratch", bname), [(3, "merged")])
    tbl(os.path.join(base + "._scratch", f"{BUCKET_COL}=5"), [(5, "unswapped")])
    _recover_bucketed(base)
    got = [r.v for r in spark.read.parquet(os.path.join(base, bname)).collect()]
    assert got == ["merged"]
    assert not os.path.exists(base + "._old")
    assert not os.path.exists(base + "._scratch")
    assert not os.path.exists(os.path.join(base, f"{BUCKET_COL}=5"))


def test_second_writer_cannot_touch_first_writers_scratch(
    spark, tmp_path, monkeypatch
):
    """Writer B enters the bucketed sink while writer A sits between its
    finished scratch write and its bucket swaps.  B must fail on A's
    writer lock before it touches anything: recovering first would
    delete A's scratch, and A would then swap every touched bucket in as
    emptied by deletes."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    from label_maker_dask_spark.operators.merge import merge_upsert_delta
    from label_maker_dask_spark.streaming.bucketed import _apply_bucketed

    base = str(tmp_path / "base")

    def apply_a(rows, batch_id):
        _apply_bucketed(
            spark.createDataFrame(rows, "k long, v string, is_del boolean"),
            base, ["k"], 4, batch_id, "run-a",
            lambda b, d: merge_upsert_delta(b, d, ["k"], None, "is_del"),
        )

    apply_a([(k, "a", False) for k in range(40)], 0)
    changes = str(tmp_path / "changes")
    _write_changes(spark, changes, [(7, "b", 1, False)])
    write_parquet, entered = DataFrameWriter.parquet, []

    def parquet(self, path, *args, **kwargs):
        write_parquet(self, path, *args, **kwargs)
        if path == base + "._scratch" and not entered:
            entered.append(path)
            with pytest.raises(
                StreamingQueryException, match="locked by another writer"
            ):
                _drain_upsert(
                    spark, changes, base, str(tmp_path / "ck-b"), n_buckets=4
                )

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    apply_a([(1, "a2", False), (2, "a2", False)], 1)
    assert entered
    got = {r.k: r.v for r in read_maintained_table(spark, base).collect()}
    assert got == {k: "a2" if k in (1, 2) else "a" for k in range(40)}
