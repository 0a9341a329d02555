"""The shared exactly-once commit protocol (``streaming/commit.py``),
checked once for every ``foreachBatch`` sink that runs on it: a fresh
checkpoint pointed at an existing table is refused, and an empty
micro-batch never reaches the sink.  An AST check keeps every sink of the
package in that list.  Then a crash matrix over the swap and publish
entry points and the index maintenance ops."""

import ast
import os
import pathlib
import shutil

import pytest
from pyspark.errors import StreamingQueryException

from label_maker_dask_spark.operators.merge import merge_upsert_delta
from label_maker_dask_spark.operators.scd import (
    stream_scd2_to_parquet,
    stream_scd2_to_parquet_bucketed,
)
from label_maker_dask_spark.operators.index_layout import (
    compact_index,
    read_index,
)
from label_maker_dask_spark.operators.similarity import (
    append_ivf_index,
    append_pq_index,
    rebalance_ivf_index,
    stream_embeddings_to_ivf_index,
    stream_embeddings_to_pq_index,
    write_ivf_index,
    write_pq_index,
)
from label_maker_dask_spark.sources.layout import compact_small_files
from label_maker_dask_spark.streaming.bucketed import (
    _apply_bucketed,
    _bucket_expr,
    read_maintained_table,
    stream_accumulate_to_parquet_bucketed,
    stream_upsert_to_parquet_bucketed,
)
from label_maker_dask_spark.streaming.commit import start_sink
from label_maker_dask_spark.streaming.neardup import stream_neardup_index
from label_maker_dask_spark.streaming.upsert import (
    accumulate_batch,
    stream_accumulate_to_parquet,
    stream_upsert_to_parquet,
)
from label_maker_dask_spark.streaming.versioned import (
    _apply_versioned,
    read_table_version,
    stream_accumulate_to_versioned_table,
    stream_upsert_to_versioned_table,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"
ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "label_maker_dask_spark"

DELTAS = ("k long, w long", [(1, 5), (2, 3)])
CHANGES = ("k long, v string, seq long", [(1, "a", 1), (2, "b", 2)])
HISTORY = (
    "k long, v string, ts long, seq long",
    [(1, "a", 10, 1), (2, "b", 20, 2)],
)
DOCS = (
    "doc_id long, text string",
    [(1, "the quick brown fox"), (2, "a lazy dog")],
)


def _sink(name, data, start, prebuild=None):
    """One sink under test: ``data`` is (schema, rows), or None for the
    index sinks, which ``prebuild`` an index and then stream vectors."""
    return pytest.param((data, start, prebuild), id=name)


SINKS = [
    _sink("upsert", CHANGES, lambda s, t, c: stream_upsert_to_parquet(
        s, t, c, keys=["k"], seq_col="seq")),
    _sink("accumulate", DELTAS, lambda s, t, c: stream_accumulate_to_parquet(
        s, t, c, keys=["k"], sum_cols=["w"])),
    _sink("accumulate_bucketed", DELTAS,
          lambda s, t, c: stream_accumulate_to_parquet_bucketed(
              s, t, c, keys=["k"], sum_cols=["w"], n_buckets=4)),
    _sink("upsert_bucketed", CHANGES,
          lambda s, t, c: stream_upsert_to_parquet_bucketed(
              s, t, c, keys=["k"], seq_col="seq", n_buckets=4)),
    _sink("upsert_versioned", CHANGES,
          lambda s, t, c: stream_upsert_to_versioned_table(
              s, t, c, keys=["k"], seq_col="seq", n_buckets=2)),
    _sink("accumulate_versioned", DELTAS,
          lambda s, t, c: stream_accumulate_to_versioned_table(
              s, t, c, keys=["k"], sum_cols=["w"], n_buckets=2)),
    _sink("neardup", DOCS, lambda s, t, c: stream_neardup_index(
        s, t, t + "_pairs", c)),
    _sink("scd2", HISTORY, lambda s, t, c: stream_scd2_to_parquet(
        s, t, c, keys=["k"], ts_col="ts", tie_break="seq")),
    _sink("scd2_bucketed", HISTORY,
          lambda s, t, c: stream_scd2_to_parquet_bucketed(
              s, t, c, keys=["k"], ts_col="ts", tie_break="seq",
              n_buckets=4)),
    _sink("ivf_index", None,
          lambda s, t, c: stream_embeddings_to_ivf_index(s, t, c),
          prebuild=lambda df, t: write_ivf_index(df, t, n_cells=4)),
    _sink("pq_index", None,
          lambda s, t, c: stream_embeddings_to_pq_index(s, t, c),
          prebuild=lambda df, t: write_pq_index(df, t)),
]



def _start_sink_callers():
    """``(module path, function name)`` of every top-level package
    function whose body calls ``start_sink``: the package's sinks."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, ast.FunctionDef) and any(
                isinstance(call, ast.Call)
                and "start_sink" in (
                    getattr(call.func, "id", None),
                    getattr(call.func, "attr", None),
                )
                for call in ast.walk(node)
            ):
                yield path.relative_to(ROOT), node.name


def test_every_sink_is_in_sinks():
    """Each sink the package starts through ``start_sink`` is exercised
    by the parametrized tests here: a new sink cannot skip them."""
    named = {n for p in SINKS for n in p.values[0][1].__code__.co_names}
    callers = list(_start_sink_callers())
    assert callers
    missing = [f"{path}:{name}" for path, name in callers if name not in named]
    assert not missing, "sinks missing from SINKS:\n" + "\n".join(missing)


def _setup(spark, sink, tmp_path, rows=True):
    """Write the sink's input (or an empty file) to a source dir, and
    build the index first for an index sink; → (schema, source, table)."""
    data, _, prebuild = sink
    table, src = str(tmp_path / "table"), str(tmp_path / "src")
    if data is None:
        emb = spark.read.parquet(EMB)
        prebuild(emb.where("vec_id < 100"), table)
        schema, df = emb.schema, emb.where("vec_id >= 100 AND vec_id < 120")
    else:
        schema, df = data[0], spark.createDataFrame(data[1], data[0])
    if not rows:
        df = df.limit(0)
    df.coalesce(1).write.parquet(src)
    return schema, src, table


def _drain(spark, sink, schema, src, table, ckpt):
    start = sink[1]
    q = start(spark.readStream.schema(schema).parquet(src), table, ckpt)
    q.awaitTermination(120)


def _listing(root):
    """Every directory and file under ``root``, relative to it."""
    return sorted(
        os.path.relpath(os.path.join(d, name), root)
        for d, dirs, files in os.walk(root)
        for name in dirs + files
    )


@pytest.mark.parametrize("sink", SINKS)
def test_fresh_checkpoint_against_existing_table_raises(spark, tmp_path, sink):
    """Batch ids restart at 0 with a fresh checkpoint; the run id minted
    per checkpoint turns that into a loud error instead of skipped or
    double-applied batches."""
    schema, src, table = _setup(spark, sink, tmp_path)
    _drain(spark, sink, schema, src, table, str(tmp_path / "ck1"))
    with pytest.raises(StreamingQueryException, match="stream run"):
        _drain(spark, sink, schema, src, table, str(tmp_path / "ck2"))


@pytest.mark.parametrize("sink", SINKS)
def test_empty_batch_creates_nothing(spark, tmp_path, sink):
    """A micro-batch with no rows commits in the checkpoint but writes
    nothing where the sink keeps its table: no directory, no marker."""
    schema, src, table = _setup(spark, sink, tmp_path, rows=False)
    before = _listing(str(tmp_path))
    ckpt = str(tmp_path / "ck")
    _drain(spark, sink, schema, src, table, ckpt)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    after = [p for p in _listing(str(tmp_path)) if p.split("/")[0] != "ck"]
    assert after == before
    assert not any("_lmds_" in p for p in after)


def test_empty_batch_never_reaches_apply(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.createDataFrame([], "k long").coalesce(1).write.parquet(src)
    ckpt = str(tmp_path / "ck")
    calls = []
    q = start_sink(
        spark.readStream.schema("k long").parquet(src),
        ckpt,
        lambda batch, batch_id, run_id: calls.append(batch_id),
        "append",
        True,
    )
    q.awaitTermination(120)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert calls == []
    # a non-empty batch does reach it, with the checkpoint's run id
    spark.createDataFrame([(1,)], "k long").write.mode("append").parquet(src)
    q = start_sink(
        spark.readStream.schema("k long").parquet(src),
        ckpt,
        lambda batch, batch_id, run_id: calls.append((batch_id, run_id)),
        "append",
        True,
    )
    q.awaitTermination(120)
    with open(os.path.join(ckpt, "_lmds_run_id")) as fh:
        assert calls == [(1, fh.read())]


# --- crash matrix over the swap entry points and index maintenance ---------
# Each entry point that writes a tmp dir and swaps it in, and each stored-
# index maintenance op, is crashed at every filesystem call it makes, then
# replayed as the engine (or the operator) would replay it: the replay must
# give the uncrashed rows and leave no swap or compaction debris.


class _Crash(Exception):
    """A simulated process death at a filesystem call."""


_FS_CALLS = [
    (os, "rename"), (os, "replace"), (os, "remove"), (shutil, "rmtree")
]


def _fs_calls(monkeypatch, root, crash_at=None):
    """Count the rename/replace/remove/rmtree calls on paths under
    ``root``; from call index ``crash_at`` on, raise instead of making
    the call (a dead process makes no further calls).  → the call log."""
    calls = []

    def wrap(fn):
        def call(path, *args, **kwargs):
            if str(path).startswith(root):
                calls.append((fn.__name__, str(path)))
                if crash_at is not None and len(calls) > crash_at:
                    raise _Crash(calls[-1])
            return fn(path, *args, **kwargs)

        return call

    for mod, name in _FS_CALLS:
        monkeypatch.setattr(mod, name, wrap(getattr(mod, name)))
    return calls


def _accumulate(spark, table, batch_id):
    rows = [[(1, 10)], [(1, 1), (2, 22)]][batch_id]
    accumulate_batch(
        spark.createDataFrame(rows, "k long, w long"), table, ["k"], ["w"],
        batch_id, run_id="run-a",
    )


def _upsert_rows(spark, batch_id):
    """Upsert deltas over 4 buckets: the seed fills buckets 1-3; batch 1
    inserts into the empty bucket 0, deletes all of bucket 1 and updates
    one key of bucket 2, leaving bucket 3 untouched."""
    probe = spark.range(64).select(
        "id", _bucket_expr(["id"], 4).alias("b")
    ).collect()
    by_bucket = {b: sorted(r.id for r in probe if r.b == b) for b in range(4)}
    if batch_id == 0:
        rows = [
            (k, "seed", False) for b in (1, 2, 3) for k in by_bucket[b][:2]
        ]
    else:
        rows = [
            (by_bucket[0][0], "new", False), (by_bucket[2][0], "upd", False)
        ]
        rows += [(k, None, True) for k in by_bucket[1][:2]]
    return spark.createDataFrame(rows, "k long, v string, is_del boolean")


def _upsert_merge(base, d):
    return merge_upsert_delta(base, d, ["k"], None, "is_del")


def _bucketed_upsert(spark, table, batch_id):
    _apply_bucketed(
        _upsert_rows(spark, batch_id), table, ["k"], 4, batch_id, "run-a",
        _upsert_merge,
    )


def _versioned_upsert(spark, table, batch_id):
    _apply_versioned(
        _upsert_rows(spark, batch_id), table, ["k"], 4, batch_id, "run-a",
        _upsert_merge,
    )


def _compact(spark, table, batch_id):
    if batch_id == 0:
        spark.range(40).repartition(4).write.parquet(table)
    else:
        compact_small_files(spark, table)


def _index_compact(build, append):
    """Batch 0 builds an index on 100 vectors and appends 60 more into
    its delta zone; batch 1 compacts it."""

    def run(spark, table, batch_id):
        emb = spark.read.parquet(EMB)
        if batch_id == 0:
            build(emb.where("vec_id < 100"), table)
            append(emb.where("vec_id >= 100 AND vec_id < 160"), table)
        else:
            compact_index(spark, table)

    return run


def _ivf_rebalance(spark, table, batch_id):
    """Batch 0 builds a 4-cell IVF index on 40 spread vectors and
    appends 120 vectors packed around one of them (a drifted index);
    batch 1 rebalances it, which compacts the delta zone first."""
    if batch_id == 0:
        spread = [
            (i, [((i * 37 + j * 11) % 97) / 97.0 - 0.5 for j in range(8)])
            for i in range(40)
        ]
        packed = [
            (1000 + i, [
                c + ((i * 13 + j * 7 + i * j) % 23) / 23.0 * 0.3 - 0.15
                for j, c in enumerate(spread[5][1])
            ])
            for i in range(120)
        ]
        schema = "vec_id long, embedding array<double>"
        write_ivf_index(spark.createDataFrame(spread, schema), table, n_cells=4)
        append_ivf_index(spark.createDataFrame(packed, schema), table)
    else:
        rebalance_ivf_index(spark, table)


SWAP_OPS = [
    pytest.param((_accumulate, lambda spark, t: spark.read.parquet(t)),
                 id="accumulate_batch"),
    pytest.param((_bucketed_upsert, read_maintained_table),
                 id="apply_bucketed_upsert"),
    pytest.param((_versioned_upsert, read_table_version),
                 id="apply_versioned_upsert"),
    pytest.param((_compact, lambda spark, t: spark.read.parquet(t)),
                 id="compact_small_files"),
    pytest.param((_index_compact(
        lambda df, t: write_ivf_index(df, t, n_cells=4), append_ivf_index
    ), read_index), id="compact_index_ivf"),
    pytest.param((_index_compact(write_pq_index, append_pq_index), read_index),
                 id="compact_index_pq"),
    pytest.param((_ivf_rebalance, read_index), id="rebalance_ivf_index"),
]

#: names that no finished or recovered op leaves inside its table
_DEBRIS = (
    "._old", "._new", "._rebal", "_lmds_compacting", "_lmds_compacted",
    "_publishing",
)


@pytest.mark.parametrize("op", SWAP_OPS)
def test_crash_at_every_fs_call_then_replay(spark, tmp_path, monkeypatch, op):
    """Batch 0 seeds the table; batch 1 is the op under test.  For every
    filesystem call k of an uncrashed batch 1: a fresh copy of the seeded
    table, batch 1 crashed at call k, batch 1 replayed — the rows equal
    the uncrashed run's, no ._applying/._old/._scratch/._compacting
    directory is left beside the table, and no rebalance set-aside or
    compaction record is left inside it."""
    run, read = op
    root = str(tmp_path)
    seed = os.path.join(root, "seed", "t")
    run(spark, seed, 0)

    def fresh(name):
        table = os.path.join(root, name, "t")
        shutil.copytree(seed, table)
        return table

    def rows(table):
        return sorted(tuple(r) for r in read(spark, table).collect())

    clean = fresh("clean")
    with monkeypatch.context() as m:
        calls = _fs_calls(m, root)
        run(spark, clean, 1)
    want = rows(clean)
    assert calls

    for k in range(len(calls)):
        table = fresh(f"k{k}")
        with monkeypatch.context() as m:
            _fs_calls(m, root, crash_at=k)
            with pytest.raises(_Crash):
                run(spark, table, 1)
        run(spark, table, 1)  # the replay
        assert rows(table) == want, (k, calls[k])
        assert os.listdir(os.path.dirname(table)) == ["t"], (k, calls[k])
        assert not [
            p for p in _listing(table) if p.endswith(_DEBRIS)
        ], (k, calls[k])
