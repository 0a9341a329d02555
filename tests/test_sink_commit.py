"""The shared exactly-once commit protocol (``streaming/commit.py``),
checked once for every ``foreachBatch`` sink that runs on it: a fresh
checkpoint pointed at an existing table is refused, and an empty
micro-batch never reaches the sink."""

import os

import pytest
from pyspark.errors import StreamingQueryException

from label_maker_dask_spark.operators.scd import (
    stream_scd2_to_parquet,
    stream_scd2_to_parquet_bucketed,
)
from label_maker_dask_spark.operators.similarity import (
    stream_embeddings_to_ivf_index,
    stream_embeddings_to_pq_index,
    write_ivf_index,
    write_pq_index,
)
from label_maker_dask_spark.streaming.bucketed import (
    stream_accumulate_to_parquet_bucketed,
    stream_upsert_to_parquet_bucketed,
)
from label_maker_dask_spark.streaming.commit import start_sink
from label_maker_dask_spark.streaming.neardup import stream_neardup_index
from label_maker_dask_spark.streaming.snapshot_sink import (
    stream_accumulate_to_snapshots,
    stream_upsert_to_snapshots,
)
from label_maker_dask_spark.streaming.upsert import (
    stream_accumulate_to_parquet,
    stream_upsert_to_parquet,
)
from label_maker_dask_spark.streaming.versioned import (
    stream_accumulate_to_versioned_table,
    stream_upsert_to_versioned_table,
)

EMB = "/root/testdata/sf0.001/embeddings.parquet"

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
    _sink("upsert_snapshots", CHANGES,
          lambda s, t, c: stream_upsert_to_snapshots(
              s, t, c, keys=["k"], seq_col="seq")),
    _sink("accumulate_snapshots", DELTAS,
          lambda s, t, c: stream_accumulate_to_snapshots(
              s, t, c, keys=["k"], sum_cols=["w"])),
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

#: the plain upsert sink is idempotent and keeps no marker, so it has no
#: foreign-run check; it still runs through the shared driver
UPSERT = _sink("upsert", CHANGES, lambda s, t, c: stream_upsert_to_parquet(
    s, t, c, keys=["k"], seq_col="seq"))


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


@pytest.mark.parametrize("sink", SINKS + [UPSERT])
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
