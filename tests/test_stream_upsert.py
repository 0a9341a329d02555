"""Streaming CDC apply: change files drain into an upserted parquet table
(batch compaction, merge, atomic swap, checkpointed restart)."""

from pyspark.sql import functions as F

from label_maker_dask_spark.streaming.commit import (
    applied_state,
    recover_swap,
    write_applied,
)
from label_maker_dask_spark.streaming.upsert import (
    accumulate_batch,
    compact_last_per_key,
    stream_upsert_to_parquet,
)

SCHEMA = "k long, v string, seq long, is_del boolean"


def _write_changes(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain(spark, changes_dir, base, ckpt):
    stream = spark.readStream.schema(SCHEMA).parquet(changes_dir)
    q = stream_upsert_to_parquet(
        stream, base, ckpt, keys=["k"], seq_col="seq", delete_col="is_del"
    )
    q.awaitTermination(120)


def test_compact_last_per_key(spark):
    df = spark.createDataFrame(
        [(1, "a", 1, False), (1, "a2", 3, False), (1, "old", 2, False)], SCHEMA
    )
    out = compact_last_per_key(df, ["k"], "seq").collect()
    assert len(out) == 1 and out[0].v == "a2"


def test_stream_upsert_creates_then_maintains_base(spark, tmp_path):
    changes = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: inserts + a same-batch second change for k=2
    _write_changes(
        spark,
        changes,
        [
            (1, "a", 1, False),
            (2, "b", 1, False),
            (3, "c", 1, False),
            (4, "d", 1, False),
            (2, "b2", 2, False),
        ],
    )
    _drain(spark, changes, base, ckpt)
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a", 2: "b2", 3: "c", 4: "d"}
    # change-log metadata never lands in the table
    assert set(spark.read.parquet(base).columns) == {"k", "v"}

    # phase 2: restart from the checkpoint — only the NEW file applies
    _write_changes(
        spark,
        changes,
        [(3, "x", 3, True), (5, "e", 3, False), (1, "a2", 4, False)],
    )
    _drain(spark, changes, base, ckpt)
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a2", 2: "b2", 4: "d", 5: "e"}


def test_rewrite_reads_base_with_marker_schema(spark, tmp_path):
    """A plain rewrite's marker keeps the table's schema, which the next
    batch reads the base with; a marker without one (as older writers
    left) falls back to footer inference."""
    import json

    from pyspark.sql.types import StructType

    base = str(tmp_path / "t")

    def add(rows, batch_id):
        accumulate_batch(
            spark.createDataFrame(rows, "k long, w long"), base, ["k"],
            ["w"], batch_id, run_id="r",
        )

    add([(1, 10)], 0)
    stored = StructType.fromJson(json.loads(applied_state(base)["schema"]))
    assert stored.fieldNames() == ["k", "w"]
    write_applied(base, "r", 0)  # an older marker: no schema
    add([(1, 1), (2, 5)], 1)
    add([(2, 2)], 2)
    assert sorted(tuple(r) for r in spark.read.parquet(base).collect()) == [
        (1, 11), (2, 7)
    ]
    assert applied_state(base)["schema"] == stored.json()


def test_stream_upsert_delete_before_base_exists(spark, tmp_path):
    changes = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")
    _write_changes(
        spark, changes, [(1, "a", 1, False), (2, "dead", 1, True)]
    )
    _drain(spark, changes, base, ckpt)
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a"}


def test_streaming_candles_maintained_by_upsert(spark, tmp_path):
    """Continuous-aggregate maintenance: an update-mode OHLC aggregation
    drains through the CDC upsert sink keyed on (event_type, window_start),
    so a late event re-emits its group and the stored candle is REPLACED,
    not duplicated — the materialized-view loop a plain append sink cannot
    close."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.timeseries import ohlc_aggs
    from label_maker_dask_spark.streaming.windows import tumbling_agg

    ev_schema = "event_id long, ts timestamp, event_type string, value double"
    changes = str(tmp_path / "events")
    base = str(tmp_path / "candles")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(ev_schema).parquet(changes)
        candles = tumbling_agg(
            stream, "ts", "1 hour", ["event_type"],
            ohlc_aggs("ts", "value", tie_break="event_id"),
        ).withColumn("_seq", F.lit(0))
        q = stream_upsert_to_parquet(
            candles, base, ckpt,
            keys=["event_type", "window_start"], seq_col="_seq",
        )
        q.awaitTermination(120)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type", "value",
        ).coalesce(1).write.mode("append").parquet(changes)

    write(
        [
            (1, "2024-01-01 10:05:00", "A", 10.0),
            (2, "2024-01-01 10:40:00", "A", 30.0),
            (3, "2024-01-01 11:10:00", "A", 7.0),
        ]
    )
    drain()
    got = {
        str(r.window_start): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.read.parquet(base).collect()
    }
    assert got["2024-01-01 10:00:00"] == (10.0, 30.0, 10.0, 30.0, 2)
    assert got["2024-01-01 11:00:00"] == (7.0, 7.0, 7.0, 7.0, 1)

    # a LATE event lands in the already-materialized 10:00 candle
    write([(4, "2024-01-01 10:01:00", "A", 5.0)])
    drain()
    got = {
        str(r.window_start): (r.open, r.high, r.low, r.close, r.n)
        for r in spark.read.parquet(base).collect()
    }
    assert len(got) == 2  # replaced, not duplicated
    assert got["2024-01-01 10:00:00"] == (5.0, 30.0, 5.0, 30.0, 3)
    assert got["2024-01-01 11:00:00"] == (7.0, 7.0, 7.0, 7.0, 1)


# --- crash-recovery of the rename-aside swap --------------------------------
# Every interrupted-swap state the sink can crash into must be finishable:
# the base is only set aside AFTER the tmp write completes, so a leftover
# ._old proves tmp is a complete table.

def _write_tbl(spark, path, rows):
    spark.createDataFrame(rows, "k long, v string").coalesce(1).write.parquet(path)


def _recover(base):
    """The plain tables' swap recovery on their on-disk names, the one
    every plain-table rewrite runs first."""
    recover_swap(base + "._applying", base, base + "._old")


def test_recover_promotes_completed_tmp(spark, tmp_path):
    """Crash between rename(base, ._old) and rename(tmp, base): the base
    path is missing — without recovery the next batch would silently
    rebuild the table from itself alone."""
    base = str(tmp_path / "base")
    _write_tbl(spark, base + "._old", [(1, "stale")])
    _write_tbl(spark, base + "._applying", [(1, "merged")])
    _recover(base)
    assert [r.v for r in spark.read.parquet(base).collect()] == ["merged"]
    import os

    assert not os.path.exists(base + "._old")
    assert not os.path.exists(base + "._applying")


def test_recover_discards_incomplete_tmp(spark, tmp_path):
    """Crash mid-write of ._applying (no ._old yet): the base is intact and
    the half-written tmp must be dropped, not promoted."""
    base = str(tmp_path / "base")
    _write_tbl(spark, base, [(1, "good")])
    _write_tbl(spark, base + "._applying", [(1, "partial")])
    _recover(base)
    assert [r.v for r in spark.read.parquet(base).collect()] == ["good"]
    import os

    assert not os.path.exists(base + "._applying")


def test_recover_cleans_set_aside_after_swap(spark, tmp_path):
    """Crash between rename(tmp, base) and rmtree(._old): both directories
    exist; the NEW base must survive and the set-aside copy go."""
    base = str(tmp_path / "base")
    _write_tbl(spark, base, [(1, "new")])
    _write_tbl(spark, base + "._old", [(1, "stale")])
    _recover(base)
    assert [r.v for r in spark.read.parquet(base).collect()] == ["new"]
    import os

    assert not os.path.exists(base + "._old")


def test_stream_upsert_recovers_from_simulated_crash(spark, tmp_path):
    """End-to-end: a crash state between the two renames is repaired by the
    next batch's entry recovery — no previously-merged keys are lost (the
    failure mode of the old rmtree-then-rename swap)."""
    import os
    import shutil

    changes = str(tmp_path / "changes")
    base = str(tmp_path / "base")
    ckpt = str(tmp_path / "ckpt")
    _write_changes(
        spark, changes, [(1, "a", 1, False), (2, "b", 1, False)]
    )
    _drain(spark, changes, base, ckpt)

    # simulate the torn swap: base set aside, completed tmp not yet renamed
    shutil.copytree(base, base + "._applying")
    os.rename(base, base + "._old")
    assert not os.path.exists(base)

    _write_changes(spark, changes, [(3, "c", 2, False)])
    _drain(spark, changes, base, ckpt)
    got = {r.k: r.v for r in spark.read.parquet(base).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # nothing dropped
    assert not os.path.exists(base + "._old")
    assert not os.path.exists(base + "._applying")


def test_streaming_zscore_view_over_maintained_daily_table(spark, tmp_path):
    """The anomaly operator closes the continuous-aggregate loop: the
    per-type daily rollup drains through the CDC upsert sink (late events
    REPLACE their day's stored row), and the z-score window over the
    stored table equals the batch operator over the full event history."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.queries_graph_ext import zscore_over_daily
    from label_maker_dask_spark.streaming.windows import tumbling_agg

    ev_schema = "event_id long, ts timestamp, event_type string, value double"
    changes = str(tmp_path / "events")
    base = str(tmp_path / "daily")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(ev_schema).parquet(changes)
        daily = (
            tumbling_agg(
                stream, "ts", "1 day", ["event_type"],
                [F.round(F.sum("value"), 6).alias("v")],
            )
            .withColumnRenamed("window_start", "day")
            .drop("window_end")
            .withColumn("_seq", F.lit(0))
        )
        q = stream_upsert_to_parquet(
            daily, base, ckpt, keys=["event_type", "day"], seq_col="_seq"
        )
        q.awaitTermination(120)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type", "value",
        ).coalesce(1).write.mode("append").parquet(changes)

    all_rows = []
    for d in range(1, 9):
        all_rows.append((d, f"2024-01-{d:02d} 12:00:00", "A", 10.0 + d % 2))
    write(all_rows)
    drain()
    # late spike lands in an ALREADY-materialized day and must replace it
    late = [(100, "2024-01-08 13:00:00", "A", 500.0)]
    write(late)
    drain()
    all_rows += late

    streamed = zscore_over_daily(spark.read.parquet(base))
    batch_daily = (
        spark.createDataFrame(
            all_rows, "event_id long, ts string, event_type string, value double"
        )
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    batch = zscore_over_daily(batch_daily)
    a = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) == 8
    flagged = [r for r in a if r[5] == 1]
    assert len(flagged) == 1 and str(flagged[0][1])[:10] == "2024-01-08"


def test_accumulate_sink_maintains_edge_table_for_pagerank(spark, tmp_path):
    """The full incremental graph pipeline: stateful streaming edge
    deltas drain through the ADDITIVE sink; the stored edge table equals
    the batch lag-window edges, so graph analytics run over a
    continuously-maintained table."""
    import time as _time

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.functions.timeutil import epoch_micros
    from label_maker_dask_spark.streaming.stateful import (
        streaming_transition_counts,
    )
    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    ev = Q._t(spark, "/root/testdata/sf0.001", "events")
    cut = ev.select(
        F.percentile(epoch_micros("ts"), F.lit(0.5)).alias("c")
    ).collect()[0].c
    d = str(tmp_path / "stream")
    ev.where(epoch_micros("ts") < cut).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.1)
    ev.where(epoch_micros("ts") >= cut).coalesce(1).write.mode("append").parquet(d)

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    edges_path = str(tmp_path / "edges")
    q = stream_accumulate_to_parquet(
        streaming_transition_counts(stream),
        edges_path,
        str(tmp_path / "ckpt"),
        keys=["src", "dst"],
        sum_cols=["w"],
    )
    q.awaitTermination(120)

    stored = {
        (r.src, r.dst): r.w for r in spark.read.parquet(edges_path).collect()
    }
    batch = {
        (r.src, r.dst): r.w
        for r in streaming_transition_counts(ev).collect()
    }
    assert stored == batch and len(stored) > 0


def test_accumulate_batch_replay_is_skipped_by_marker(spark, tmp_path):
    """Accumulation is not idempotent, so exactly-once needs the in-table
    batch marker: re-applying the same batch id must be a no-op, the next
    id must add."""
    from label_maker_dask_spark.streaming.upsert import accumulate_batch

    base = str(tmp_path / "counts")
    b0 = spark.createDataFrame([("a", 2), ("b", 3)], "k string, w long")
    accumulate_batch(b0, base, ["k"], ["w"], batch_id=0)
    accumulate_batch(b0, base, ["k"], ["w"], batch_id=0)  # crash replay
    got = {r.k: r.w for r in spark.read.parquet(base).collect()}
    assert got == {"a": 2, "b": 3}  # not double-counted

    b1 = spark.createDataFrame([("a", 5), ("c", 1)], "k string, w long")
    accumulate_batch(b1, base, ["k"], ["w"], batch_id=1)
    got = {r.k: r.w for r in spark.read.parquet(base).collect()}
    assert got == {"a": 7, "b": 3, "c": 1}


def test_streaming_mad_view_over_maintained_daily_table(spark, tmp_path):
    """The robust-anomaly twin of the z-score loop: the daily rollup is
    maintained by the CDC upsert sink and the MAD scorer over the stored
    table equals the batch operator over the full history — including a
    late event that replaces an already-materialized day."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.queries_graph_ext import mad_over_daily
    from label_maker_dask_spark.streaming.windows import tumbling_agg

    ev_schema = "event_id long, ts timestamp, event_type string, value double"
    changes = str(tmp_path / "events")
    base = str(tmp_path / "daily")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        stream = spark.readStream.schema(ev_schema).parquet(changes)
        daily = (
            tumbling_agg(
                stream, "ts", "1 day", ["event_type"],
                [F.round(F.sum("value"), 6).alias("v")],
            )
            .withColumnRenamed("window_start", "day")
            .drop("window_end")
            .withColumn("_seq", F.lit(0))
        )
        q = stream_upsert_to_parquet(
            daily, base, ckpt, keys=["event_type", "day"], seq_col="_seq"
        )
        q.awaitTermination(120)

    def write(rows):
        spark.createDataFrame(
            rows, "event_id long, ts string, event_type string, value double"
        ).select(
            "event_id", F.col("ts").cast("timestamp").alias("ts"),
            "event_type", "value",
        ).coalesce(1).write.mode("append").parquet(changes)

    all_rows = []
    for d in range(1, 11):
        all_rows.append((d, f"2024-01-{d:02d} 12:00:00", "A", 10.0 + (d % 7) * 0.37))
    write(all_rows)
    drain()
    late = [(100, "2024-01-10 13:00:00", "A", 500.0)]
    write(late)
    drain()
    all_rows += late

    streamed = mad_over_daily(spark.read.parquet(base))
    batch_daily = (
        spark.createDataFrame(
            all_rows, "event_id long, ts string, event_type string, value double"
        )
        .select(F.col("ts").cast("timestamp").alias("ts"), "event_type", "value")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    batch = mad_over_daily(batch_daily)
    a = sorted(map(tuple, streamed.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert a == b and len(a) == 10
    flagged = [r for r in a if r[6] == 1]
    assert len(flagged) == 1 and str(flagged[0][1])[:10] == "2024-01-10"
