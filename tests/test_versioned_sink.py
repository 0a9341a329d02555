"""Versioned bucketed maintenance: O(delta) publishes with full history —
immutable per-bucket versions + manifest, pinned reads, O(1) rollback,
exactly-once replays, and garbage collection."""

import os
import time as _time

import pytest
from pyspark.sql import functions as F  # noqa: F401

from label_maker_dask_spark.streaming.bucketed import BUCKET_COL
from label_maker_dask_spark.streaming.versioned import (
    expire_table_versions,
    latest_table_version,
    read_table_version,
    rollback_table,
    stream_accumulate_to_versioned_table,
    stream_upsert_to_versioned_table,
)

SCHEMA = "k long, v string, seq long, is_del boolean"


def _write(spark, path, rows, schema=SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, changes, table, ckpt, n_buckets=8):
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes)
    )
    q = stream_upsert_to_versioned_table(
        stream, table, ckpt, keys=["k"], seq_col="seq",
        delete_col="is_del", n_buckets=n_buckets,
    )
    q.awaitTermination(120)


def _bucket_version_dirs(table):
    out = set()
    for name in os.listdir(table):
        if name.startswith(BUCKET_COL + "="):
            for vd in os.listdir(os.path.join(table, name)):
                out.add((name, vd))
    return out


def test_versioned_upsert_history_and_delta_cost(spark, tmp_path):
    changes = str(tmp_path / "chg")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")

    _write(spark, changes, [(k, f"v{k}", 1, False) for k in range(40)])
    _drain(spark, changes, table, ckpt)
    assert latest_table_version(table) == 1
    v1_dirs = _bucket_version_dirs(table)
    got = {r.k: r.v for r in read_table_version(spark, table).collect()}
    assert got == {k: f"v{k}" for k in range(40)}

    # batch 2 touches ONE key: the new version must add files for at most
    # one bucket; every other bucket is carried by reference
    _time.sleep(1.1)
    _write(spark, changes, [(7, "v7b", 2, False)])
    _drain(spark, changes, table, ckpt)
    assert latest_table_version(table) == 2
    new_dirs = _bucket_version_dirs(table) - v1_dirs
    assert len(new_dirs) == 1  # exactly one bucket got a v=2
    assert all(vd == "lmdsv=2" for _, vd in new_dirs)

    now = {r.k: r.v for r in read_table_version(spark, table).collect()}
    want = {k: f"v{k}" for k in range(40)}
    want[7] = "v7b"
    assert now == want
    # pinned read of v1 still shows the pre-update value — history intact
    old = {r.k: r.v for r in read_table_version(spark, table, 1).collect()}
    assert old[7] == "v7"
    assert len(old) == 40

    # O(1) rollback: pointer move, data untouched
    rollback_table(table, 1)
    assert {
        r.k: r.v for r in read_table_version(spark, table).collect()
    } == {k: f"v{k}" for k in range(40)}
    rollback_table(table, 2)


def test_versioned_upsert_delete_empties_bucket(spark, tmp_path):
    changes = str(tmp_path / "chg")
    table = str(tmp_path / "tbl")
    _write(spark, changes, [(1, "a", 1, False), (2, "b", 1, False)])
    _drain(spark, changes, table, str(tmp_path / "ck"), n_buckets=2)
    _time.sleep(1.1)
    _write(spark, changes, [(1, "dead", 2, True), (2, "dead", 2, True)])
    _drain(spark, changes, table, str(tmp_path / "ck"), n_buckets=2)
    assert read_table_version(spark, table).count() == 0
    assert read_table_version(spark, table, 1).count() == 2


def test_versioned_accumulate_equals_plain_sink(spark, tmp_path):
    """End-to-end streamed sums equal the plain accumulate sink's."""
    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    dschema = "k long, w long"
    d = str(tmp_path / "deltas")
    spark.createDataFrame(
        [(k % 9, 1) for k in range(180)], dschema
    ).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    spark.createDataFrame(
        [(k % 5, 2) for k in range(50)], dschema
    ).coalesce(1).write.mode("append").parquet(d)

    def stream():
        return (
            spark.readStream.schema(dschema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )

    table = str(tmp_path / "versioned")
    q = stream_accumulate_to_versioned_table(
        stream(), table, str(tmp_path / "ck1"),
        keys=["k"], sum_cols=["w"], n_buckets=4,
    )
    q.awaitTermination(120)
    plain = str(tmp_path / "plain")
    q = stream_accumulate_to_parquet(
        stream(), plain, str(tmp_path / "ck2"), keys=["k"], sum_cols=["w"]
    )
    q.awaitTermination(120)

    a = {r.k: r.w for r in read_table_version(spark, table).collect()}
    b = {r.k: r.w for r in spark.read.parquet(plain).collect()}
    assert a == b and latest_table_version(table) == 2


def test_versioned_rollback_then_replay_heals_exactly_once(spark, tmp_path):
    """The verdict's crash drill, batch-level: publish happens but the
    checkpoint commit doesn't; the operator rolls back one version; the
    engine replays the batch — the manifest's batch marker makes the
    replay a pointer heal, not a double count."""
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )
    from label_maker_dask_spark.streaming.versioned import _apply_versioned

    table = str(tmp_path / "counts")

    def apply(rows, batch_id):
        agg = (
            spark.createDataFrame(rows, "k long, w long")
            .groupBy("k")
            .agg(F.sum("w").alias("w"))
        )
        return _apply_versioned(
            agg, table, ["k"], 4, batch_id, "run-a",
            lambda b, dd: dd if b is None else _additive_merge(
                b, dd, ["k"], ["w"]
            ),
        )

    assert apply([(k, 1) for k in range(8)], 0) == 1
    assert apply([(1, 10), (2, 10)], 1) == 2
    rollback_table(table, 1)  # operator action after the "crash"
    assert apply([(1, 10), (2, 10)], 1) is None  # engine replay
    assert latest_table_version(table) == 2  # pointer healed forward
    got = {r.k: r.w for r in read_table_version(spark, table).collect()}
    want = {k: 1 for k in range(8)}
    want[1] = want[2] = 11
    assert got == want  # added exactly once


def test_versioned_concurrent_writer_raises(spark, tmp_path):
    """Two interleaved apply calls on one base: the second fails fast
    under the writer lock instead of corrupting the publish."""
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )
    from label_maker_dask_spark.streaming.versioned import _apply_versioned
    from label_maker_dask_spark.streaming.commit import writer_lock

    table = str(tmp_path / "counts")

    def apply(batch_id, run_id):
        agg = spark.createDataFrame([(1, 1)], "k long, w long")
        return _apply_versioned(
            agg, table, ["k"], 4, batch_id, run_id,
            lambda b, dd: dd if b is None else _additive_merge(
                b, dd, ["k"], ["w"]
            ),
        )

    assert apply(0, "run-a") == 1
    # writer B holds the lock mid-apply; writer A's interleaved apply
    # must raise, and B's own apply inside the lock must also refuse
    # (its run id differs from the holder's)
    with writer_lock(table, "run-b"):
        with pytest.raises(ValueError, match="locked by another writer"):
            apply(1, "run-a")
    # lock released on exit: A proceeds
    assert apply(1, "run-a") == 2


def _apply_once(spark, table, run_id):
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )
    from label_maker_dask_spark.streaming.versioned import _apply_versioned

    agg = spark.createDataFrame([(1, 1)], "k long, w long")
    return _apply_versioned(
        agg, table, ["k"], 4, 0, run_id,
        lambda b, dd: dd if b is None else _additive_merge(
            b, dd, ["k"], ["w"]
        ),
    )


def _write_lock(table, **fields):
    import json

    from label_maker_dask_spark.streaming.commit import _LOCK_NAME

    os.makedirs(table, exist_ok=True)
    with open(os.path.join(table, _LOCK_NAME), "w") as fh:
        fh.write(json.dumps(fields))


def _dead_pid():
    """A pid guaranteed dead: spawn + reap a trivial child."""
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def test_versioned_same_run_dead_holder_lock_is_reclaimed(
    spark, tmp_path
):
    import socket

    from label_maker_dask_spark.streaming.commit import _LOCK_NAME

    table = str(tmp_path / "counts")
    # a crash left our own run's lock behind; holder pid verifiably dead
    _write_lock(
        table,
        run="run-a",
        pid=_dead_pid(),
        host=socket.gethostname(),
        nonce="dead",
    )
    assert _apply_once(spark, table, "run-a") == 1
    assert not os.path.exists(os.path.join(table, _LOCK_NAME))


def test_versioned_same_run_own_pid_lock_is_reclaimed(spark, tmp_path):
    """An earlier batch of THIS process crashed mid-apply: same pid is
    reclaimable without a liveness probe (batches run serially here)."""
    import socket

    table = str(tmp_path / "counts")
    _write_lock(
        table,
        run="run-a",
        pid=os.getpid(),
        host=socket.gethostname(),
        nonce="dead",
    )
    assert _apply_once(spark, table, "run-a") == 1


def test_versioned_same_run_live_holder_raises(spark, tmp_path):
    """A SECOND DRIVER restarted from the same checkpoint carries the
    same run id — its live lock must NOT be reclaimed (two writers
    interleaving bucket swaps is the corruption the lock prevents)."""
    import socket
    import subprocess

    table = str(tmp_path / "counts")
    live = subprocess.Popen(["sleep", "30"])
    try:
        _write_lock(
            table,
            run="run-a",
            pid=live.pid,
            host=socket.gethostname(),
            nonce="other-writer",
        )
        with pytest.raises(ValueError, match="locked by another writer"):
            _apply_once(spark, table, "run-a")
    finally:
        live.kill()
        live.wait()


def test_versioned_same_run_foreign_host_raises(spark, tmp_path):
    """A matching-run lock from another host is unverifiable — treated
    as alive, fail-loud (break_writer_lock is the operator escape)."""
    table = str(tmp_path / "counts")
    _write_lock(
        table, run="run-a", pid=12345, host="other-host", nonce="x"
    )
    with pytest.raises(ValueError, match="locked by another writer"):
        _apply_once(spark, table, "run-a")


def test_versioned_fresh_checkpoint_raises(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    dschema = "k long, w long"
    d = str(tmp_path / "deltas")
    spark.createDataFrame([(1, 5)], dschema).coalesce(1).write.mode(
        "append"
    ).parquet(d)
    table = str(tmp_path / "counts")

    def drain(ck):
        stream = spark.readStream.schema(dschema).parquet(d)
        q = stream_accumulate_to_versioned_table(
            stream, table, ck, keys=["k"], sum_cols=["w"], n_buckets=2
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ck1"))
    with pytest.raises(StreamingQueryException, match="different stream run"):
        drain(str(tmp_path / "ck2"))


def test_expire_garbage_collects_unreferenced_bucket_versions(
    spark, tmp_path
):
    changes = str(tmp_path / "chg")
    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ck")
    _write(spark, changes, [(k, "a", 1, False) for k in range(20)])
    _drain(spark, changes, table, ckpt, n_buckets=4)
    for i in (2, 3, 4):
        _time.sleep(1.1)
        _write(spark, changes, [(1, f"u{i}", i, False)])
    _drain(spark, changes, table, ckpt, n_buckets=4)
    assert latest_table_version(table) == 4

    removed = expire_table_versions(table, keep=2)
    assert removed == [1, 2]
    # pinned reads of retained versions still work
    assert read_table_version(spark, table, 3).count() == 20
    assert read_table_version(spark, table, 4).count() == 20
    # key-1's superseded bucket versions are gone from disk, but the
    # versions still referenced by retained manifests survive
    live = _bucket_version_dirs(table)
    assert all(
        vd in ("lmdsv=1", "lmdsv=3", "lmdsv=4") for _, vd in live
    )  # v=1 survives only for buckets never rewritten
    with pytest.raises(FileNotFoundError):
        read_table_version(spark, table, 1)


def test_table_version_diff_rows_and_bucket_pruning(spark, tmp_path):
    """Row-level diff between two versions: inserts/updates classified
    correctly, unchanged rows dropped, and — the point of the manifest —
    ONLY changed-bucket directories are ever read (untouched buckets'
    immutable dirs are provably identical between the manifests)."""
    from label_maker_dask_spark.operators.merge import (
        merge_additive as _additive_merge,
    )
    from label_maker_dask_spark.streaming.versioned import (
        _apply_versioned,
        table_version_diff,
    )

    table = str(tmp_path / "counts")

    def apply(batch_id, rows):
        agg = spark.createDataFrame(rows, "k long, w long")
        return _apply_versioned(
            agg, table, ["k"], 8, batch_id, "run-a",
            lambda b, dd: dd if b is None else _additive_merge(
                b, dd, ["k"], ["w"]
            ),
        )

    assert apply(0, [(k, 10 * k) for k in range(1, 21)]) == 1
    # batch 2 touches k=3 (update) and k=100 (insert)
    assert apply(1, [(3, 5), (100, 7)]) == 2

    diff = table_version_diff(spark, table, 1, 2)
    got = {
        r["k"]: (r["change"], r["old"], r["new"]) for r in diff.collect()
    }
    assert set(got) == {3, 100}
    assert got[3][0] == "update"
    assert got[3][1]["w"] == 30 and got[3][2]["w"] == 35
    assert got[100][0] == "insert"
    assert got[100][1] is None and got[100][2]["w"] == 7
    # pruning: the scan lists only the buckets the manifests disagree on
    from label_maker_dask_spark.streaming.bucketed import (
        BUCKET_COL,
        _bucket_expr,
    )

    files = set(diff.inputFiles())
    touched_buckets = set()
    for f in files:
        part = [p for p in f.split("/") if p.startswith(BUCKET_COL + "=")]
        touched_buckets.add(part[0])
    expect = {
        r["b"]
        for r in spark.createDataFrame([(3,), (100,)], "k long")
        .select(_bucket_expr(["k"], 8).alias("bnum"))
        .selectExpr(f"concat('{BUCKET_COL}=', bnum) AS b")
        .collect()
    }
    assert touched_buckets == expect, (touched_buckets, expect)
    # identical versions diff to nothing
    assert table_version_diff(spark, table, 2, 2).count() == 0


def test_table_version_diff_schema_drift_raises(spark, tmp_path):
    """A diff interval spanning a value-column schema change must fail
    early with a named error, not an unresolved-column analysis error
    deep in the join (schema evolution across a diff is unsupported)."""
    import json
    import os

    import pytest

    from label_maker_dask_spark.streaming.versioned import (
        _apply_versioned,
        _read_manifest,
        _write_manifest,
        table_version_diff,
    )

    table = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, 10)], "k long, v long")
    d2 = spark.createDataFrame([(1, 5)], "k long, v long")
    _apply_versioned(d1, table, ["k"], 4, 0, "run-a",
                     lambda b, d: d if b is None else d)
    _apply_versioned(d2, table, ["k"], 4, 1, "run-a",
                     lambda b, d: d if b is None else d)
    # simulate drift: rewrite v2's manifest schema with a renamed column
    m = _read_manifest(table, 2)
    sch = json.loads(m["schema"])
    for f in sch["fields"]:
        if f["name"] == "v":
            f["name"] = "v_renamed"
    m["schema"] = json.dumps(sch)
    _write_manifest(table, 2, m)
    with pytest.raises(ValueError, match="schema changed"):
        table_version_diff(spark, table, v_from=1, v_to=2)
