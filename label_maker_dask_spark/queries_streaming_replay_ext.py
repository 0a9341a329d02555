"""Batch-replay catalog twins for the streaming sinks and operators.

The streaming sinks (``streaming/upsert.py``, ``operators/scd.py``'s
sinks) and stateful operators (``streaming/windows.py``,
``streaming/stateful.py``) cannot appear in ``queries()`` directly — they
need checkpoints and sinks, not a DataFrame return.  These entries lift
the equals-batch harness into the catalog: each one

1. derives a DETERMINISTIC multi-batch change log from the sf_dir
   tables (modulo / time-range splits — never sampling),
2. hands it to the one replay driver, :func:`_drive`, which writes the
   batches as ordered files, opens them as a file stream delivering one
   file per micro-batch (``maxFilesPerTrigger=1``), and drains the
   cell's ``start(stream, out, ckpt)`` to termination — in one leg, or
   in two legs on one checkpoint for the restart twins.  ``start`` is
   the REAL foreachBatch sink call for the maintenance sinks (applier,
   checkpoint, run-id guard, atomic swap), ``stream_to_parquet`` of the
   built stream for append-mode operators (:func:`_appended`), and
   :func:`_to_memory` for complete/update-mode aggregations; and
3. returns the final result as a plain DataFrame, which the driver
   hash-compares against a DuckDB oracle expressing the END-STATE in
   one SQL statement.

That puts the maintenance semantics themselves — last-writer-wins by
change sequence, delete handling, SCD-2 interval closing across batch
boundaries — under the same cross-engine value-hash gate as every batch
operator.  The streaming-only properties (crash recovery, replay
idempotency, lock liveness) remain pytest territory.

Scale note: the replay corpus is sf-sized by construction (the change
log is the input table split three ways), and each sink applies batches
with the same bounded-driver-state plan shapes the pytest suite pins —
nothing here collects data to the driver beyond the sinks' documented
scalar markers.

No counterpart exists in the reference (`/root/reference/` is a
batch-only tile pipeline, main.py:90-97); this is Part-B engine
surface.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from label_maker_dask_spark.queries_shared import (
    OHLC_ORACLE,
    SLIDING_1H30_ORACLE,
    _minhash_oracle,
    _t,
    register,
    session_tmpdir,
)

#: seconds between the forced file mtimes of consecutive change batches:
#: the file streaming source orders its initial listing by modification
#: time, so distinct mtimes make batch delivery order deterministic.
_MTIME_STEP = 10

#: state/shuffle partition counts for the replay drives.  A stateful
#: query schedules ONE state task per partition per stateful operator
#: per micro-batch regardless of data volume, and each task pays a
#: state-store open/commit round-trip (a stream-stream join holds FOUR
#: stores per partition).  Production tuning in miniature — size state
#: partitions to the work per key, measured per operator kind (round-13
#: alternating A/B, sf0.1 and sf1):
#:
#: - JVM-stateful windows/joins/dedup: store-commit fixed cost
#:   dominates at every scale probed (the 4-entry join/window group ran
#:   ~20% faster at 4 partitions than 8 at sf0.1, and interval-join
#:   stayed faster at sf1: 5.2 s vs 6.2 s) -> _DRIVE_PARTITIONS_JVM.
#: - Python-stateful (applyInPandasWithState): per-key pandas compute
#:   dominates once data grows — 4 partitions cost sf1 session-timeout
#:   +34% (12.1 s vs 9.0 s) -> keep _DRIVE_PARTITIONS parallelism.
_DRIVE_PARTITIONS = "8"
_DRIVE_PARTITIONS_JVM = "4"

def _replay_workdir(name: str) -> str:
    """Fresh per-entry scratch under the process-lifetime replay root
    (deferred atexit cleanup — see ``queries_shared.session_tmpdir``,
    the one shared copy of that contract)."""
    return session_tmpdir("replay_session", name)


def _write_ordered_batches(batches, changes_dir: str) -> None:
    """Write each batch frame as one parquet file into ``changes_dir``
    with strictly increasing mtimes (batch 0 oldest), so the file
    streaming source delivers them in batch order under
    ``maxFilesPerTrigger=1``.  Files already present (a restart drive's
    second leg appends the tail of a log whose head was delivered in a
    previous query run) are left untouched — only newly written files
    are stamped.

    Consecutive batches sharing a column layout (names + types; the
    usual case — every batch is a filter/derivation of one source
    frame) are written in ONE Spark job: each branch is tagged with a
    literal batch-id column and ``coalesce(1)``-d BEFORE a union, so
    the union's partition list is exactly one partition per batch — no
    shuffle, no sort, and each task evaluates its branch the same way
    the legacy per-batch ``coalesce(1)`` job did (identical file
    content, identical row order).  ``partitionBy(_b)`` then lands one
    file per batch directory in one pass.  That replaces N sequential
    driver-blocking jobs — each re-scanning the source — with one job
    whose N branch scans run concurrently across the cluster (guide
    §2.6 via a single job rather than a thread pool: the pooled form
    was tried in this round and measured a net LOSS from py4j
    submission contention — interval-join replay 6.1 s serial vs 9.3 s
    pooled.  A repartition(n, _b)+sortWithinPartitions variant was also
    tried and measured a net loss: the added exchange plus a 3-task
    sort of the largest batch frames cost far more than the saved job
    submissions, e.g. stream_bpe_word_freq_replay 6.6 s -> 24 s).

    Batches whose layout differs from their neighbors' (the schema-
    evolution legs) and batches that come out empty (no file under
    ``partitionBy`` — the legacy path writes a schema-only file, and
    batch-boundary semantics must not silently change) fall back to the
    original per-batch ``coalesce(1)`` write."""
    import shutil
    import tempfile

    base_mtime = time.time() - _MTIME_STEP * (len(batches) + 1)
    parent = os.path.dirname(changes_dir.rstrip("/"))

    def publish(src: str, i: int, prefix: str = "") -> None:
        t = base_mtime + _MTIME_STEP * i
        dst = os.path.join(changes_dir, prefix + os.path.basename(src))
        os.rename(src, dst)
        os.utime(dst, (t, t))

    def write_single(df, i: int, stage_root: str) -> None:
        tmp = os.path.join(stage_root, f"single_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        for f in sorted(os.listdir(tmp)):
            if not f.startswith(("_", ".")):
                publish(os.path.join(tmp, f), i)
        shutil.rmtree(tmp, ignore_errors=True)

    def layout(df):
        return [(f.name, f.dataType) for f in df.schema.fields]

    # consecutive same-layout runs -> one grouped write each
    groups: list[tuple[int, list]] = []
    for i, b in enumerate(batches):
        if groups and layout(groups[-1][1][-1]) == layout(b):
            groups[-1][1].append(b)
        else:
            groups.append((i, [b]))

    stage_root = tempfile.mkdtemp(prefix="_batch_stage_", dir=parent)
    try:
        for start, dfs in groups:
            if len(dfs) == 1:
                write_single(dfs[0], start, stage_root)
                continue
            u = dfs[0].withColumn("_b", F.lit(start)).coalesce(1)
            for j, d in enumerate(dfs[1:], 1):
                u = u.unionByName(
                    d.withColumn("_b", F.lit(start + j)).coalesce(1)
                )
            gdir = os.path.join(stage_root, f"group_{start}")
            (
                u.write.partitionBy("_b")
                .mode("overwrite")
                .parquet(gdir)
            )
            for j in range(len(dfs)):
                i = start + j
                bdir = os.path.join(gdir, f"_b={i}")
                files = (
                    [
                        f
                        for f in sorted(os.listdir(bdir))
                        if not f.startswith(("_", "."))
                    ]
                    if os.path.isdir(bdir)
                    else []
                )
                if len(files) == 1:
                    # batch-id prefix: one job names its files by TASK id,
                    # so two batches co-located in a task share a basename
                    publish(os.path.join(bdir, files[0]), i, f"b{i}-")
                else:
                    # empty batch (no file) or unexpected multi-file:
                    # reproduce the legacy per-batch write exactly
                    write_single(dfs[j], i, stage_root)
    finally:
        shutil.rmtree(stage_root, ignore_errors=True)


def _drive(
    spark, name: str, batches, schema, start, stop_after=None,
    partitions: str = _DRIVE_PARTITIONS,
) -> str:
    """The one replay driver: write ``batches`` as ordered files into a
    fresh workdir's ``changes/``, open them as a file stream delivering
    one file per micro-batch, and drain ``start(stream, out, ckpt)`` —
    the cell's started query — to termination.  Returns ``out``, the
    path the sink or file sink wrote (a memory-sink cell reads its
    query name instead).

    ``stop_after=None`` is one leg.  ``stop_after=k`` is a RESTART: leg
    1 sees only the first ``k`` batch files and drains to a clean stop
    at a batch boundary (the planned-restart shape: deploys, config
    changes, autoscaling); the remaining files are then written and a
    NEW query starts on the SAME checkpoint and output.  Everything leg
    2 carries over — the file source's committed log (no batch
    re-delivered, none skipped), a sink's run id (a restarted driver on
    the same checkpoint SHARES it, the continuation ``ensure_run_id``
    allows) and batch marker, an operator's state store — it reloaded
    from the checkpoint.  Deterministic: the stop point is which files
    exist, never a poll.  ``schema`` is one DDL string, or a (leg 1,
    leg 2) pair for the rolling-upgrade twins whose resumed query
    declares a WIDENED source schema (leg-1 files re-listed under it are
    skipped by the committed log, never re-read).

    ``spark.sql.shuffle.partitions`` is ``partitions`` for the whole
    drive and is restored after it, also when ``start`` raises: a
    stateful query's state partition count is frozen from it at
    checkpoint creation, and the sinks' merges shuffle at it (see the
    constants' measured rationale); results are partition-count
    invariant, only the fixed per-batch task overhead changes."""
    work = _replay_workdir(name)
    changes = os.path.join(work, "changes")
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    os.makedirs(changes)
    legs = (
        [batches] if stop_after is None
        else [batches[:stop_after], batches[stop_after:]]
    )
    schemas = [schema] * 2 if isinstance(schema, str) else schema
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    try:
        for leg, leg_schema in zip(legs, schemas):
            _write_ordered_batches(leg, changes)
            stream = (
                spark.readStream.schema(leg_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(changes)
            )
            q = start(stream, out, ckpt)
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(f"{name}: drain timed out")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return out


def _read_table(spark, path: str, schema: str) -> DataFrame:
    """The table a maintenance sink keeps at ``path``, plain or bucketed.
    A sink skips an empty micro-batch, so a drain that committed nothing
    (an empty change log) left no table: that reads as zero rows of
    ``schema``, the table's schema, as the oracle's end state does."""
    from label_maker_dask_spark.streaming.bucketed import (
        read_maintained_table,
    )

    if os.path.exists(path):
        return read_maintained_table(spark, path)
    return _no_rows(spark, schema)


def _no_rows(spark, schema: str) -> DataFrame:
    """Zero rows of the DDL ``schema``, built JVM-side (``range(0)``
    and typed NULL literals): ``createDataFrame`` would fan out to
    Python partitions on the replay hot path (``tests/test_plans.py``)."""
    from pyspark.sql.types import DataType

    return spark.range(0).select(
        *(
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in DataType.fromDDL(schema).fields
        )
    )


_UPSERT_REPLAY_ORACLE = """
SELECT o_orderkey,
       o_custkey,
       o_orderstatus,
       CAST(round(o_totalprice * 100, 0) AS BIGINT)
         + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END
         + CASE WHEN o_orderkey % 11 = 0 AND o_orderkey % 13 != 0
                THEN 500 ELSE 0 END
         AS totalprice_cents
FROM orders
WHERE o_orderkey % 13 != 0
"""


#: readStream schema of the orders CDC change log built below
_ORDERS_CDC_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "totalprice_cents long, seq long, is_del boolean"
)
#: the maintained orders table: the change log minus ``seq``/``is_del``
_ORDERS_TABLE_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "totalprice_cents long"
)


def _orders_cdc_batches(spark: SparkSession, sf_dir: str) -> list:
    """The deterministic 3-batch orders CDC log shared by the plain and
    bucketed upsert replay twins (same change log -> same oracle):

    - batch 0 (seq 1): full snapshot of orders with integer-cents price
    - batch 1 (seq 2): keys % 7 == 0 -> price + 1000 cents
    - batch 2 (seq 3): keys % 13 == 0 -> delete; keys % 11 == 0 (and not
      deleted) -> price + 500 cents — disjoint key sets, so the batch is
      conflict-free and compaction order cannot matter within it.

    All key splits are modulo arithmetic — deterministic and
    engine-independent."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("totalprice_cents"),
    )
    k = F.col("o_orderkey")

    def change(df, seq, is_del=False):
        return df.withColumn("seq", F.lit(seq).cast("long")).withColumn(
            "is_del", F.lit(bool(is_del))
        )

    b0 = change(orders, 1)
    b1 = change(
        orders.where(k % 7 == 0).withColumn(
            "totalprice_cents", F.col("totalprice_cents") + 1000
        ),
        2,
    )
    b2 = change(orders.where(k % 13 == 0), 3, is_del=True).unionByName(
        change(
            orders.where((k % 11 == 0) & (k % 13 != 0)).withColumn(
                "totalprice_cents",
                F.col("totalprice_cents")
                + F.when(k % 7 == 0, 1000).otherwise(0)
                + 500,
            ),
            3,
        )
    )
    return [b0, b1, b2]


def _orders_upsert(stream, out, ckpt):
    """The upsert sink call of the plain and restart orders twins."""
    from label_maker_dask_spark.streaming.upsert import (
        stream_upsert_to_parquet,
    )

    return stream_upsert_to_parquet(
        stream, out, ckpt, keys=["o_orderkey"], seq_col="seq",
        delete_col="is_del",
    )


@register("stream_upsert_orders_replay", _UPSERT_REPLAY_ORACLE)
def stream_upsert_orders_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three CDC micro-batches through the REAL ``stream_upsert_to_parquet``
    sink — snapshot, then price updates, then deletes + more updates
    (:func:`_orders_cdc_batches`) — returning the final maintained
    table.  The oracle states the end state directly (base prices + the
    update increments, minus deleted keys), so a wrong merge, a dropped
    delete, a batch applied out of order, or seq-compaction picking the
    wrong row all hash-mismatch."""
    out = _drive(
        spark, "stream_upsert_orders_replay",
        _orders_cdc_batches(spark, sf_dir), _ORDERS_CDC_SCHEMA,
        _orders_upsert,
    )
    return _read_table(spark, out, _ORDERS_TABLE_SCHEMA)


@register("stream_upsert_restart_replay", _UPSERT_REPLAY_ORACLE)
def stream_upsert_restart_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME orders CDC log through the SAME upsert sink as
    ``stream_upsert_orders_replay`` — but delivered across a QUERY
    RESTART (``_drive`` with ``stop_after=1``): run 1 drains only the
    snapshot batch and terminates cleanly; a NEW query object then
    resumes from the same checkpoint and delivers the update + delete
    batches.  The oracle is byte-identical to the plain twin's, which
    is the whole claim: a restart is an operational event that must not
    change a single row.  What it uniquely gates cross-engine: the
    file-source's committed log survives the restart (no batch
    re-delivered, none skipped), ``ensure_run_id`` recognizes the same
    checkpoint as a continuation rather than raising the fresh-
    checkpoint guard, and the batch-id marker keeps the resumed merge
    exactly-once.  Restart evidence for the maintenance family had
    lived only in pytest (simulated-crash unit tests); this puts the
    end-to-end resume under the driver's value-hash gate."""
    out = _drive(
        spark, "stream_upsert_restart_replay",
        _orders_cdc_batches(spark, sf_dir), _ORDERS_CDC_SCHEMA,
        _orders_upsert, stop_after=1,
    )
    return _read_table(spark, out, _ORDERS_TABLE_SCHEMA)


@register("stream_upsert_bucketed_orders_replay", _UPSERT_REPLAY_ORACLE)
def stream_upsert_bucketed_orders_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME orders CDC log through the BUCKET-PRUNED upsert sink
    (``streaming/bucketed.py``: the base table is hash-bucketed on the
    merge key and each batch re-merges only delta-touched bucket
    directories).  The oracle is byte-identical to the plain twin's —
    bucketing is a physical layout choice that must not change a single
    value — so a wrong bucket route, a missed bucket swap, or a
    per-bucket marker fault all hash-mismatch, and the hash-gate pins
    plain/bucketed equivalence under the driver, not just in pytest."""
    from label_maker_dask_spark.streaming.bucketed import (
        stream_upsert_to_parquet_bucketed,
    )

    out = _drive(
        spark, "stream_upsert_bucketed_orders_replay",
        _orders_cdc_batches(spark, sf_dir), _ORDERS_CDC_SCHEMA,
        lambda s, o, c: stream_upsert_to_parquet_bucketed(
            s, o, c, keys=["o_orderkey"], seq_col="seq", n_buckets=8,
            delete_col="is_del",
        ),
    )
    return _read_table(spark, out, _ORDERS_TABLE_SCHEMA)


_SCD2_REPLAY_ORACLE = """
SELECT user_id, event_id, event_type AS state, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


_SCD2_CHANGE_SCHEMA = "user_id long, event_id long, state string, ts timestamp"
#: the maintained SCD-2 history: the change columns plus the interval
_SCD2_HISTORY_SCHEMA = (
    _SCD2_CHANGE_SCHEMA
    + ", valid_from timestamp, valid_to timestamp, is_current boolean"
)


def _day_terciles(ev):
    """Split a ``ts``-carrying frame into three contiguous day-range
    batches (each strictly later than the previous — the time-ordered
    change-log shape).  The tercile boundaries come from one tiny
    distinct-days aggregate (bounded by calendar size, never event
    volume).

    Deliberately NOT materialized: the 4-5 downstream jobs (boundary
    collect, one ``coalesce(1)`` write per tercile, caller max-ts
    probes) each re-scan the source parquet, but those scans are
    column-pruned and parallel — an eager localCheckpoint of ``ev``
    was A/B-measured NET NEGATIVE at both sf0.1 (+1.7 s over the
    7-entry stream subset) and sf1 (+1.2 s on the transitions twin):
    serializing the full frame once costs more than the scans it
    saves (round-13, SCALE.md)."""
    days = sorted(
        r["d"]
        for r in ev.select(F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .collect()
    )
    if not days:  # ``ev`` is empty, and so is each tercile
        return [ev] * 3
    n = len(days)
    cut1, cut2 = days[max(0, n // 3)], days[max(0, 2 * n // 3)]
    day = F.date_trunc("day", "ts")
    return [
        ev.where(day < F.lit(cut1)),
        ev.where((day >= F.lit(cut1)) & (day < F.lit(cut2))),
        ev.where(day >= F.lit(cut2)),
    ]


def _events_day_tercile_batches(spark, sf_dir):
    """Day-tercile change log for the SCD-2 twins — time-ordered, which
    is the precondition ``scd2_apply`` enforces."""
    return _day_terciles(
        _t(spark, sf_dir, "events").select(
            "user_id", "event_id", F.col("event_type").alias("state"), "ts"
        )
    )


@register("stream_scd2_user_state_replay", _SCD2_REPLAY_ORACLE)
def stream_scd2_user_state_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three time-ordered micro-batches through the REAL
    ``stream_scd2_to_parquet`` sink, returning the final history table.
    The oracle is the SAME full-log historization SQL as the batch
    entry ``scd2_user_state_history`` — the equals-batch theorem
    (incremental ``scd2_apply`` over a time-split change log equals one
    ``historize_changes`` over the union) stated as a value-hash gate:
    a mis-closed interval at a batch boundary, a lost current flag, or
    a tie-break drift all hash-mismatch.  Batch split:
    :func:`_events_day_tercile_batches`."""
    from label_maker_dask_spark.operators.scd import stream_scd2_to_parquet

    out = _drive(
        spark, "stream_scd2_user_state_replay",
        _events_day_tercile_batches(spark, sf_dir), _SCD2_CHANGE_SCHEMA,
        lambda s, o, c: stream_scd2_to_parquet(
            s, o, c, keys=["user_id"], ts_col="ts", tie_break="event_id"
        ),
    )
    return _read_table(spark, out, _SCD2_HISTORY_SCHEMA).select(
        "user_id", "event_id", "state", "valid_from", "valid_to", "is_current"
    )


_ACCUMULATE_REPLAY_ORACLE = """
SELECT l_suppkey,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
       CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
GROUP BY 1
"""


@register("stream_accumulate_supplier_replay", _ACCUMULATE_REPLAY_ORACLE)
def stream_accumulate_supplier_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three additive-delta micro-batches through the REAL
    ``stream_accumulate_to_parquet`` sink (per-supplier running quantity
    and revenue sums), returning the final accumulated table.  The
    oracle is the one-statement GROUP BY over the whole delta log —
    running sums are batch-split invariant, so ANY correct exactly-once
    accumulation must hash-match it; a double-applied batch (the
    sink's own failure mode, guarded by the in-table marker) or a lost
    insert both show up as wrong sums.

    The split is ``(l_orderkey + l_linenumber) % 3`` — deterministic,
    and because addition commutes the expected END STATE is independent
    of batch arrival order (unlike the upsert twin, which pins order
    via file mtimes and seq compaction)."""
    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    li = _t(spark, sf_dir, "lineitem")
    deltas = li.select(
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("qty_sum"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("revenue_cents"),
        ((F.col("l_orderkey") + F.col("l_linenumber")) % 3).alias("b"),
    )
    batches = [deltas.where(F.col("b") == i).drop("b") for i in range(3)]
    schema = "l_suppkey long, qty_sum long, revenue_cents long"
    out = _drive(
        spark, "stream_accumulate_supplier_replay", batches, schema,
        lambda s, o, c: stream_accumulate_to_parquet(
            s, o, c, keys=["l_suppkey"],
            sum_cols=["qty_sum", "revenue_cents"],
        ),
    )
    return _read_table(spark, out, schema)


_VERSIONED_DIFF_REPLAY_ORACLE = """
WITH d AS (
  SELECT o_custkey,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS rc,
         o_orderkey % 3 AS b
  FROM orders),
v1 AS (SELECT o_custkey, CAST(sum(rc) AS BIGINT) AS rev
       FROM d WHERE b = 0 GROUP BY 1),
v3 AS (SELECT o_custkey, CAST(sum(rc) AS BIGINT) AS rev
       FROM d GROUP BY 1)
SELECT v3.o_custkey,
       CASE WHEN v1.o_custkey IS NULL THEN 'insert' ELSE 'update' END
         AS change,
       v1.rev AS old_rev_cents,
       v3.rev AS new_rev_cents
FROM v3 LEFT JOIN v1 USING (o_custkey)
WHERE v1.o_custkey IS NULL OR v1.rev != v3.rev
"""


@register("stream_versioned_diff_replay", _VERSIONED_DIFF_REPLAY_ORACLE)
def stream_versioned_diff_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three additive micro-batches through the REAL
    ``stream_accumulate_to_versioned_table`` sink (per-customer revenue
    running sums, one immutable version per non-empty batch), then the
    manifest-pruned CDC feed ``table_version_diff`` from batch 0's
    version to the latest, flattened to scalar columns.  The oracle
    states the diff directly: batch 0's sums against the full log's
    sums, and the feed must contain exactly the customers whose state
    changed in between — inserts (first order arrived after batch 0)
    with a NULL old side, updates with both.  The sink skips an empty
    batch, so version numbers need not match batch numbers: the diff
    starts at the version whose manifest records batch 0, and with no
    such version every customer is an insert.  A torn publish, a wrong
    manifest bucket entry, a diff that reads an unchanged bucket, or
    sums applied twice all hash-mismatch."""
    from label_maker_dask_spark.streaming.versioned import (
        _read_manifest,
        latest_table_version,
        read_table_version,
        stream_accumulate_to_versioned_table,
        table_version_diff,
    )

    orders = _t(spark, sf_dir, "orders")
    deltas = orders.select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("rev_cents"),
        (F.col("o_orderkey") % 3).alias("b"),
    )
    batches = [deltas.where(F.col("b") == i).drop("b") for i in range(3)]

    table = _drive(
        spark, "stream_versioned_diff_replay", batches,
        "o_custkey long, rev_cents long",
        lambda s, o, c: stream_accumulate_to_versioned_table(
            s, o, c, keys=["o_custkey"], sum_cols=["rev_cents"], n_buckets=8
        ),
    )
    if latest_table_version(table) is None:
        # the sink skips empty micro-batches, so an empty ``orders``
        # published no version: no customer changed, as in the oracle
        return _no_rows(
            spark,
            "o_custkey long, change string, old_rev_cents long, "
            "new_rev_cents long",
        )
    if _read_manifest(table, 1)["batch"] != 0:
        # batch 0 was empty and published no version: nothing to diff from
        return read_table_version(spark, table).select(
            "o_custkey",
            F.lit("insert").alias("change"),
            F.lit(None).cast("long").alias("old_rev_cents"),
            F.col("rev_cents").alias("new_rev_cents"),
        )
    diff = table_version_diff(spark, table, v_from=1)
    return diff.select(
        "o_custkey",
        "change",
        F.col("old.rev_cents").alias("old_rev_cents"),
        F.col("new.rev_cents").alias("new_rev_cents"),
    )


_NEARDUP_PAIRS_SCHEMA = "id_a long, id_b long, jaccard double, batch int"


# the SAME oracle as the batch operator entry ``dedup_minhash_lsh_pairs``:
# the incremental index's union-of-outputs must equal one batch run
@register("stream_neardup_index_replay", _minhash_oracle(k=16, bands=4, threshold=0.12))
def stream_neardup_index_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Three document micro-batches through the REAL incremental
    MinHash-LSH index (``streaming/neardup.py``: append-only band +
    profile tables, per-batch verified pairs vs everything ingested,
    batch-partition-overwrite exactly-once), returning the UNION of all
    emitted pairs.  The oracle is byte-identical to the batch operator
    entry ``dedup_minhash_lsh_pairs`` — the union-of-outputs == batch
    theorem (each unordered pair is found exactly once, when its second
    member arrives) as a driver-side value-hash gate: a duplicated
    replay emission, a batch paired against its own stored rows, or a
    missed cross-batch candidate all hash-mismatch.  The split is
    ``doc_id % 3``; the theorem is split-invariant."""
    from label_maker_dask_spark.streaming.neardup import stream_neardup_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batches = [
        docs.where(F.col("doc_id") % 3 == i) for i in range(3)
    ]

    # this sink maintains TWO outputs (index + pairs); both live under
    # the driver's out dir and the twin returns the pairs table
    out = _drive(
        spark, "stream_neardup_index_replay", batches,
        "doc_id long, text string",
        lambda s, o, c: stream_neardup_index(
            s, os.path.join(o, "index"), os.path.join(o, "pairs"), c,
            n=3, k=16, bands=4, threshold=0.12,
        ),
    )
    return _read_table(
        spark, os.path.join(out, "pairs"), _NEARDUP_PAIRS_SCHEMA
    ).select("id_a", "id_b", "jaccard")


_EVENTS_REPLAY_SCHEMA = (
    "event_id long, user_id long, event_type string, ts timestamp, value double"
)


def _events_raw_day_terciles(spark, sf_dir):
    return _day_terciles(
        _t(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
    )


def _appended(spark, build):
    """``(start, read)`` for an append-mode operator cell.  ``start``
    sends ``build(stream)`` to the exactly-once parquet file sink at
    ``out``: stream-stream joins and stateful dedup can emit INPUT-SIZED
    output, so nothing lands in driver memory.  ``read(out)`` reads what
    the sink appended lazily, with the built frame's schema, so a drain
    that appended nothing reads as zero rows of it.  The file sink
    persists across a restart's two legs, so the read is the union of
    both legs' emissions."""
    from label_maker_dask_spark.streaming.windows import stream_to_parquet

    built = []

    def start(stream, out, ckpt):
        built.append(build(stream))
        return stream_to_parquet(built[-1], out, ckpt)

    def read(out):
        return spark.read.schema(built[-1].schema).parquet(out)

    return start, read


def _to_memory(name: str, build, mode: str = "complete"):
    """``start`` for a complete/update-mode aggregation cell: the built
    stream goes to the memory table ``name``, which the cell reads with
    ``spark.table(name)``.  Complete mode surfaces the FINAL incremental
    state — the rows a real update-mode run carries in the state store —
    and after a restart it is leg 2's full final table.  The output is
    aggregate-bounded (windows x keys, or users x batches in update
    mode), never input-sized, so driver residency is safe."""
    return lambda stream, out, ckpt: (
        build(stream).writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


@register("stream_ohlc_hourly_replay", OHLC_ORACLE)
def stream_ohlc_hourly_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three day-tercile event micro-batches through the REAL streaming
    tumbling-window OHLC aggregation (``streaming/windows.py
    tumbling_agg`` + ``operators/timeseries.py ohlc_aggs``: the
    open/close struct-argmin state merges incrementally in the state
    store across micro-batches), returning the final candles.  The
    oracle is byte-identical to the batch entry
    ``timeseries_ohlc_hourly_by_type`` — streaming-equals-batch as a
    driver-side value-hash gate: a struct-argmin state that merges
    wrongly across a batch boundary or a window mis-assignment both
    hash-mismatch.  (The watermark is inert under complete mode — Spark
    neither drops late rows nor evicts state there — so late-drop
    arithmetic is NOT under this gate; the append-mode twins and the
    pytest equals-batch suite cover it.)  Raw doubles pass through
    unrounded, so the engines agree bit-for-bit."""
    from label_maker_dask_spark.operators.timeseries import ohlc_aggs
    from label_maker_dask_spark.streaming.windows import tumbling_agg

    name = "stream_ohlc_hourly_replay"
    _drive(
        spark, name, _events_raw_day_terciles(spark, sf_dir),
        _EVENTS_REPLAY_SCHEMA,
        _to_memory(name, lambda s: tumbling_agg(
            s, "ts", "1 hour", ["event_type"],
            ohlc_aggs("ts", "value", tie_break="event_id"),
            watermark="30 minutes",
        )),
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return spark.table(name).select(
        "event_type",
        F.col("window_start").alias("bucket"),
        "open", "high", "low", "close", "n",
    )


def _session_oracle(users: str = "") -> str:
    """The batch sessionization the 30-minute session twins gate
    against, over the events whose ``user_id`` passes ``users`` (a SQL
    predicate the cell also applies; empty = all events)."""
    events = f"events WHERE {users}" if users else "events"
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM {events}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS session_value
FROM sessions GROUP BY user_id, session_id
"""


def _session_30m(stream):
    """The native ``session_window`` aggregation of the session twins:
    30-minute gap per user, 1-hour watermark."""
    from label_maker_dask_spark.streaming.windows import session_agg

    return session_agg(
        stream, "ts", "30 minutes", ["user_id"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("session_value"),
        ],
        watermark="1 hour",
    )


@register("stream_session_30m_replay", _session_oracle())
def stream_session_30m_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three day-tercile event micro-batches through the REAL native
    ``session_window`` streaming aggregation (``streaming/windows.py
    session_agg``, 30-minute gap per user): the state store must MERGE
    sessions across micro-batch boundaries — a session spanning a
    tercile cut arrives split over two batches and only the stateful
    merge can reunite it.  The oracle is the batch gaps-and-islands
    sessionization (same CTE as ``events_sessionize_30m``, keyed
    implicitly by the session interval instead of the per-user ordinal),
    so streaming-equals-batch lands under the driver's value-hash gate:
    a session the merge failed to reunite doubles its rows and
    hash-mismatches.  ``session_start`` is the window start (= first
    event ts, exactly); ``session_end`` is max event ts (aggregated —
    the native window end is last-ts + gap, a different convention than
    the batch twin pins)."""
    name = "stream_session_30m_replay"
    _drive(
        spark, name, _events_raw_day_terciles(spark, sf_dir),
        _EVENTS_REPLAY_SCHEMA, _to_memory(name, _session_30m),
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return spark.table(name).select(
        "user_id",
        F.col("session_start"),
        F.col("last_ts").alias("session_end"),
        "n_events",
        "session_value",
    )


#: the session-restart twin's user slice, applied by the cell and its oracle
_SESSION_RESTART_USERS = "user_id % 4 = 3"


@register(
    "stream_session_restart_replay", _session_oracle(_SESSION_RESTART_USERS)
)
def stream_session_restart_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The session-window aggregation delivered across a QUERY RESTART
    (``_drive`` with ``stop_after=2``): run 1 drains terciles
    1-2 and terminates cleanly, a NEW query resumes from the same
    checkpoint and delivers tercile 3 — so every session straddling
    the tercile-2/3 cut must be reunited by state the second run
    RELOADED from the checkpointed state store, not by state it built
    itself.  The oracle is byte-identical to
    ``stream_session_30m_replay``'s batch sessionization, which is the
    claim: a restart must not change a single session.  This is the
    state-store RECOVERY twin of ``stream_upsert_restart_replay`` (a
    foreachBatch sink resuming its own table) — here the recovered
    thing is Spark's internal aggregation state, the surface a
    1000-executor deployment exercises on every rolling restart.
    Sliced to 1-in-4 users (``user_id % 4 == 3``, mirrored in the
    oracle): complete mode re-emits the whole session state per batch,
    a linear-by-construction cost the parent twin's probe documents —
    recovery is a per-user property, so the slice bounds the sf1 drive
    without weakening the restart claim."""
    name = "stream_session_restart_replay"
    batches = [
        t.where(_SESSION_RESTART_USERS)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    _drive(
        spark, name, batches, _EVENTS_REPLAY_SCHEMA,
        _to_memory(name, _session_30m), stop_after=2,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return spark.table(name).select(
        "user_id",
        F.col("session_start"),
        F.col("last_ts").alias("session_end"),
        "n_events",
        "session_value",
    )


_INTERVAL_JOIN_REPLAY_ORACLE = """
SELECT l.user_id, l.ts, l.event_id,
       r.ts AS r_ts, r.event_id AS r_event_id, r.value AS r_value
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '6 hours'
WHERE l.event_type = 'click' AND r.event_type = 'purchase'
  AND l.user_id % 4 = 1
"""


def _click_purchase_join(how: str = "inner"):
    """The build of the interval-join twins: clicks pair with the same
    user's purchases within [ts, ts+6h], both sides watermarked at 1
    hour, both derived from ONE file stream by filter."""
    from label_maker_dask_spark.streaming.windows import interval_join

    def build(df):
        left = df.filter(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        )
        right = df.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id", "value"
        )
        return interval_join(
            left, right, "ts", "ts", ["user_id"],
            lower="0 seconds", upper="6 hours",
            left_watermark="1 hour", right_watermark="1 hour", how=how,
        )

    return build


@register("stream_interval_join_replay", _INTERVAL_JOIN_REPLAY_ORACLE)
def stream_interval_join_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three day-tercile event micro-batches through the REAL
    stream-stream interval join (``streaming/windows.py interval_join``:
    clicks pair with the same user's purchases within [ts, ts+6h],
    both sides watermarked at 1 hour so buffered state expires as the
    other side's watermark passes its bound).  Both sides derive from
    ONE file stream by filter, so each micro-batch delivers both sides'
    tercile together and every cross-boundary match (a click near a
    tercile cut pairing with a purchase at the start of the next batch)
    exercises the retained join state.  Append mode accumulates the
    emitted matches; the oracle is the plain batch interval join — an
    evicted-too-early buffer (lost cross-batch match) or a duplicate
    emission on replay both hash-mismatch.  The day terciles arrive in
    time order, so no row is watermark-late and the emitted set is the
    FULL join (the left-outer null-horizon subtlety does not arise in
    the inner form; its twin below gates it).

    The change log is sliced to 1-in-4 users (``user_id % 4 == 1``,
    mirrored in the oracle): the twin's cost is dominated by fixed
    stream-stream state-store machinery (probe-flat, exp 0.03), and the
    slice cuts the per-batch state work without changing anything the
    gate proves — cross-boundary matches, eviction timing, and replay
    idempotency are per-user properties."""
    batches = [
        t.where(F.col("user_id") % 4 == 1)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    start, read = _appended(spark, _click_purchase_join())
    out = _drive(
        spark, "stream_interval_join_replay", batches, _EVENTS_REPLAY_SCHEMA,
        start, partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


@register("stream_interval_join_restart_replay", _INTERVAL_JOIN_REPLAY_ORACLE)
def stream_interval_join_restart_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The inner stream-stream interval join delivered across a QUERY
    RESTART — JOIN-STATE recovery, the third member of the restart
    triptych (`stream_upsert_restart_replay`: a foreachBatch sink
    resuming its own table; `stream_session_restart_replay`:
    aggregation state; here: BOTH sides' buffered join rows).  Run 1
    drains only tercile 1 and terminates cleanly; a new query resumes
    from the checkpoint and delivers terciles 2-3, so every match
    between a tercile-1 click and a tercile-2 purchase must come from
    left-side rows the second run RELOADED from the checkpointed join
    state store.  The build, slice (``user_id % 4 == 1``), and oracle
    are byte-identical to ``stream_interval_join_replay`` — a restart
    must not change a single match: a buffered row lost in recovery
    drops a cross-restart match, a replayed batch re-emitting doubles
    one, and both hash-mismatch.  Append mode writes to a parquet file
    sink that persists across the runs, so the final read is the union
    of both runs' emissions."""
    batches = [
        t.where(F.col("user_id") % 4 == 1)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    start, read = _appended(spark, _click_purchase_join())
    out = _drive(
        spark, "stream_interval_join_restart_replay", batches,
        _EVENTS_REPLAY_SCHEMA, start, stop_after=1,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


_INTERVAL_JOIN_SEMI_REPLAY_ORACLE = """
SELECT l.user_id, l.ts, l.event_id
FROM events l
WHERE l.event_type = 'click' AND l.user_id % 4 = 3
  AND EXISTS (
    SELECT 1 FROM events r
    WHERE r.event_type = 'purchase' AND r.user_id = l.user_id
      AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '6 hours')
"""


@register(
    "stream_interval_join_semi_replay", _INTERVAL_JOIN_SEMI_REPLAY_ORACLE
)
def stream_interval_join_semi_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LEFT-SEMI stream-stream interval join (the streaming EXISTS)
    under the oracle gate: clicks emit exactly once iff a same-user
    purchase lands in [ts, ts+6h], with no right columns.  The semi
    form's distinct hazards vs the inner twin are DUPLICATE emission (a
    left row matched by purchases in two different micro-batches must
    still emit once — the mark-as-matched state the inner join doesn't
    need) and premature left-state eviction (a click evicted before a
    later tercile's in-interval purchase arrives silently drops an
    emittable row).  Day terciles arrive in time order, so no right row
    is watermark-late (the inner twin's argument) and the emitted set
    must equal the batch EXISTS — the oracle.  The 1-in-4 user slice
    (``user_id % 4 == 3``, a disjoint slice from the inner twin's)
    bounds the fixed state-store cost the same way."""
    batches = [
        t.where(F.col("user_id") % 4 == 3)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    start, read = _appended(spark, _click_purchase_join("left_semi"))
    out = _drive(
        spark, "stream_interval_join_semi_replay", batches,
        _EVENTS_REPLAY_SCHEMA, start,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


_INTERVAL_JOIN_OUTER_REPLAY_ORACLE = """
WITH days AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)),
cuts AS (
  SELECT max(CASE WHEN rn = n // 3 + 1 THEN d END) AS cut1 FROM days),
l_all AS (
  SELECT e.user_id, e.ts, e.event_id FROM events e, cuts
  WHERE e.event_type = 'click' AND e.user_id % 2 = 0
    AND date_trunc('day', e.ts) < cuts.cut1),
mx AS (SELECT max(ts) AS mxl FROM l_all),
l AS (
  SELECT l_all.* FROM l_all, mx
  WHERE l_all.ts NOT BETWEEN mx.mxl - INTERVAL '450 minutes'
                         AND mx.mxl - INTERVAL '390 minutes'),
r AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase' AND user_id % 2 = 0),
j AS (
  SELECT l.user_id, l.ts, l.event_id,
         r.ts AS r_ts, r.event_id AS r_event_id, r.value AS r_value
  FROM l LEFT JOIN r
    ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '6 hours')
SELECT j.user_id, j.ts, j.event_id, j.r_ts, j.r_event_id, j.r_value
FROM j, mx
WHERE j.r_event_id IS NOT NULL
   OR j.ts + INTERVAL '7 hours' < mx.mxl
"""


def _frozen_watermark_batches(
    spark, sf_dir: str, user_slice, name: str, right_margin: bool = False
) -> list:
    """The frozen-watermark change log of the outer and full
    interval-join twins: the LEFT side (clicks, ``user_slice`` users)
    comes from day-tercile 1 ONLY — its event-time maximum ``mxl``
    freezes the global watermark at ``mxl − 1h`` from batch 1 onward —
    with the ±30-minute band around the left null horizon
    (``ts = mxl − 7h``) excluded; the RIGHT side (purchases, same
    slice) spans all three terciles, optionally minus the ±30-minute
    band around ITS null horizon (``ts = mxl − 1h``, full-outer only).
    Both entries' oracles restate the same horizons in SQL, so this
    helper and those oracles must change in lockstep."""
    t1, t2, t3 = _events_raw_day_terciles(spark, sf_dir)
    clicks1 = t1.where(user_slice & (F.col("event_type") == "click"))
    mxl = clicks1.agg(F.max("ts")).first()[0]
    if mxl is None:
        raise ValueError(
            f"{name} needs >=1 tercile-1 click in its user slice; the "
            "source events table is too small"
        )
    left1 = clicks1.where(
        ~F.col("ts").between(
            F.lit(mxl) - F.expr("INTERVAL 450 MINUTES"),
            F.lit(mxl) - F.expr("INTERVAL 390 MINUTES"),
        )
    )

    def purchases(t):
        p = t.where(user_slice & (F.col("event_type") == "purchase"))
        if right_margin:
            p = p.where(
                ~F.col("ts").between(
                    F.lit(mxl) - F.expr("INTERVAL 90 MINUTES"),
                    F.lit(mxl) - F.expr("INTERVAL 30 MINUTES"),
                )
            )
        return p

    return [left1.unionByName(purchases(t1)), purchases(t2), purchases(t3)]


@register(
    "stream_interval_join_outer_replay", _INTERVAL_JOIN_OUTER_REPLAY_ORACLE
)
def stream_interval_join_outer_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The LEFT-OUTER stream-stream interval join under the oracle gate
    — the null-row emit horizon is the one join semantics the inner
    twin cannot exercise.  An unmatched left row may emit its
    null-padded row only once the global watermark proves no matching
    right row can still arrive (watermark > left_ts + upper); rows
    whose horizon the final watermark never passes are withheld state,
    not output.

    The change log PINS that horizon engine-independently:

    - the LEFT side (clicks, even users) comes from day-tercile 1
      ONLY, so its event-time maximum ``mxl`` — and therefore the
      global watermark, which is the min over both sides — freezes at
      ``mxl - 1h`` from batch 1's commit onward.  Every candidate
      watermark any batch or the closing no-data batch can apply is
      the SAME value, so the one-batch-lag convention (measured on the
      late-drop twin) cannot move the horizon;
    - left rows within ±30 minutes of the horizon boundary
      (``ts = mxl - 7h``) are excluded from the change log AND the
      oracle, so strict-vs-non-strict eviction comparisons cannot flip
      any row;
    - the RIGHT side (purchases, even users) spans all three terciles:
      day-boundary splits mean no right row ever falls behind the
      frozen watermark (nothing is late-dropped), and tercile-2/3
      purchases joining against retained left state exercise the
      cross-batch buffer exactly as the inner twin does.

    The oracle replays the horizon in SQL: matched rows
    unconditionally, null rows only where ``ts + 7h < mxl``.  An
    engine that emits a withheld null row, withholds an emittable one,
    or double-emits on replay all hash-mismatch."""
    name = "stream_interval_join_outer_replay"
    batches = _frozen_watermark_batches(
        spark, sf_dir, F.col("user_id") % 2 == 0, name
    )
    start, read = _appended(spark, _click_purchase_join("left_outer"))
    out = _drive(
        spark, name, batches, _EVENTS_REPLAY_SCHEMA, start,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


#: the grid is closed-form: corner indices for bounds (-10,36,10,44) at
#: zoom 8 are (xmin,ymin,xmax,ymax) = (120,93,135,100) by the slippy
#: formulas (tiles.tile_range; x = floor((lon+180)/360*2^z), y via the
#: Mercator ln-tan form with the epsilon-inclusive east/south corners).
_STREAM_TILE_SOURCE_ORACLE = """
SELECT CAST(8 AS INT) AS z, CAST(s.x AS BIGINT) AS x,
       CAST(t.y AS BIGINT) AS y
FROM generate_series(120, 135) s(x), generate_series(93, 100) t(y)
"""


@register("stream_tile_source_replay", _STREAM_TILE_SOURCE_ORACLE)
def stream_tile_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING Python DataSource surface
    (``SimpleDataSourceStreamReader``, ``sources/tile_source.py
    SlippyTileStreamReader``) under the oracle gate: the tile grid for
    a fixed bbox fed as an incremental y-stripe stream (3 rows per
    micro-batch → 3 batches for the 8-row grid), driven through a real
    checkpointed parquet sink until the source is exhausted.  The union
    of all micro-batches must equal the closed-form grid EXACTLY — a
    skipped stripe (offset advanced past unread rows), a re-emitted
    stripe (offset not advanced, or ``readBetweenOffsets`` replaying a
    committed batch on top of its sink output), or a wrong range
    boundary all hash-mismatch.  This is the connector-API twin of the
    batch ``spark.read.format("slippy_tiles")`` source (same options,
    same closed-form content), so the engine's source surface is gated
    in BOTH execution modes.  ``sf_dir`` is unused: the source is
    generated, as the batch connector's is.

    Scale shape: each micro-batch is one bounded stripe (rowsPerBatch ×
    grid width) prefetched on the driver and shipped once — the
    documented Simple-reader contract; a production tile-catalog feed
    sizes stripes to the ingest rate.  The drive polls the sink row
    count (closed-form target) and stops the query — bounded by a
    timeout that fails the gate loudly rather than hanging."""
    return _drive_tile_stream(spark, "stream_tile_source_replay")


def _drive_tile_stream(spark, name: str, mode: str = None) -> DataFrame:
    """Shared drive for the two tile-feed twins: open the streaming
    connector (``mode`` selects simple vs partitioned), run a
    checkpointed parquet sink with back-to-back micro-batches
    (0-second trigger; see the inline availableNow-unsafe note) until
    the closed-form grid count lands, and return the read-back
    frame."""
    import os
    import time

    from label_maker_dask_spark.sources.tile_source import (
        register_tile_source,
    )
    from label_maker_dask_spark.tiles import n_tiles

    register_tile_source(spark)
    bounds, zoom = [-10.0, 36.0, 10.0, 44.0], 8
    expected = n_tiles(bounds, zoom)
    work = _replay_workdir(name)
    out = os.path.join(work, "out")
    ckpt = os.path.join(work, "ckpt")
    reader = (
        spark.readStream.format("slippy_tiles")
        .option("bounds", ",".join(str(v) for v in bounds))
        .option("zoom", zoom)
        .option("rowsPerBatch", 3)
    )
    if mode:
        reader = reader.option("streamingMode", mode)
        if mode == "partitioned":
            # durable committed-frontier floor beside the checkpoint,
            # BOUND to the checkpoint's run id: closes the double-crash
            # re-delivery window (commit() docstring, tile_source.py)
            # while a fresh checkpoint's new run id makes any stale
            # floor for the same grid inert instead of data-losing
            from label_maker_dask_spark.streaming.commit import (
                ensure_run_id,
            )

            reader = reader.option("floordir", ckpt).option(
                "floorrunid", ensure_run_id(ckpt)
            )
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        # back-to-back micro-batches: the interval is pure pacing (the
        # source advances rowsPerBatch per latestOffset call regardless),
        # and a 1s cadence was ~2s of idle wait per entry at sf0.1.
        # availableNow is NOT safe here: this source advances its offset
        # incrementally, so a start-time latestOffset snapshot would
        # drain only the first stripe batch and hang the poll below.
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 300
        # progress-based completion check: each StreamingQueryProgress is
        # emitted AFTER its micro-batch commits, so summing numInputRows
        # over distinct committed batch ids counts rows durably in the
        # exactly-once parquet sink — the same signal the old
        # ``spark.read.parquet(out).count()`` poll computed, without
        # launching a full count JOB per 0.2 s poll tick (each poll was a
        # listing + scan; the polls, not the stream, dominated the cell)
        seen: dict = {}
        while time.time() < deadline:
            if not q.isActive:  # died: surface the real error, don't
                exc = q.exception()  # burn the deadline on a dead query
                raise RuntimeError(f"{name} query failed: {exc}")
            for p in q.recentProgress:
                seen[p["batchId"]] = p["numInputRows"]
            if sum(seen.values()) >= expected:
                break
            time.sleep(0.2)
    finally:
        q.stop()
    return spark.read.schema("z int, x bigint, y bigint").parquet(out)


@register(
    "stream_tile_source_partitioned_replay", _STREAM_TILE_SOURCE_ORACLE
)
def stream_tile_source_partitioned_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PARTITIONED streaming DataSource form
    (``DataSourceStreamReader``, selected via ``streamingMode=
    partitioned``) under the same closed-form grid oracle as the
    Simple-reader twin: offsets plan on the driver but row GENERATION
    runs in ``read(partition)`` on the executors — one task per y
    stripe — which is the form a 100 TB feed needs (the Simple reader
    prefetches every batch through the driver by design).  The gate
    proves the offset planning (``latestOffset`` cursor), per-stripe
    partition planning, executor-side generation, and exactly-once
    delivery produce the identical grid."""
    return _drive_tile_stream(
        spark, "stream_tile_source_partitioned_replay", mode="partitioned"
    )


_STREAM_STATIC_JOIN_REPLAY_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS totalprice_cents,
       c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
"""


@register(
    "stream_static_join_enrich_replay", _STREAM_STATIC_JOIN_REPLAY_ORACLE
)
def stream_static_join_enrich_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAM-STATIC enrichment join — the remaining join execution
    mode after the stream-stream matrix: a streaming fact (orders
    replayed as three order-date terciles) joined per micro-batch to a
    STATIC dimension read from parquet (customer), the
    broadcast-enrich shape every production ingest uses for
    dimension lookup.  Stateless by construction (the static side is
    re-resolved each micro-batch; no watermark, no join state), so the
    appended union over all batches must equal the batch join — the
    oracle.  A dropped batch, a stale static snapshot mid-replay, or a
    duplicate emission on restart all hash-mismatch.  Prices ride as
    integer cents (exact decimal round, mirrored in the oracle).
    Scale shape: the dimension broadcasts under AQE at production dim
    sizes; per-batch cost is the batch's rows × a hash-lookup — the
    O(delta) enrich a 100 TB ingest needs."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("ts"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("totalprice_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )

    def build(df):
        return df.join(
            cust, df.o_custkey == cust.c_custkey, "inner"
        ).select(
            "o_orderkey", "o_custkey", "totalprice_cents",
            "c_name", "c_mktsegment",
        )

    schema = (
        "o_orderkey long, o_custkey long, ts timestamp, totalprice_cents long"
    )
    start, read = _appended(spark, build)
    out = _drive(
        spark, "stream_static_join_enrich_replay", _day_terciles(orders),
        schema, start, partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


_INTERVAL_JOIN_FULL_REPLAY_ORACLE = """
WITH days AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)),
cuts AS (
  SELECT max(CASE WHEN rn = n // 3 + 1 THEN d END) AS cut1 FROM days),
l_all AS (
  SELECT e.user_id, e.ts, e.event_id FROM events e, cuts
  WHERE e.event_type = 'click' AND e.user_id % 4 = 0
    AND date_trunc('day', e.ts) < cuts.cut1),
mx AS (SELECT max(ts) AS mxl FROM l_all),
l AS (
  SELECT l_all.* FROM l_all, mx
  WHERE l_all.ts NOT BETWEEN mx.mxl - INTERVAL '450 minutes'
                         AND mx.mxl - INTERVAL '390 minutes'),
r AS (
  SELECT e.user_id, e.ts, e.event_id, e.value FROM events e, mx
  WHERE e.event_type = 'purchase' AND e.user_id % 4 = 0
    AND e.ts NOT BETWEEN mx.mxl - INTERVAL '90 minutes'
                     AND mx.mxl - INTERVAL '30 minutes'),
j AS (
  SELECT coalesce(l.user_id, r.user_id) AS user_id,
         l.ts, l.event_id,
         r.ts AS r_ts, r.event_id AS r_event_id, r.value AS r_value
  FROM l FULL JOIN r
    ON l.user_id = r.user_id
   AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '6 hours')
SELECT user_id, ts, event_id, r_ts, r_event_id, r_value
FROM j, mx
WHERE (event_id IS NOT NULL AND r_event_id IS NOT NULL)
   OR (r_event_id IS NULL AND ts + INTERVAL '7 hours' < mxl)
   OR (event_id IS NULL AND r_ts < mxl - INTERVAL '60 minutes')
"""


@register(
    "stream_interval_join_full_replay", _INTERVAL_JOIN_FULL_REPLAY_ORACLE
)
def stream_interval_join_full_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL-OUTER stream-stream interval join under the oracle
    gate — BOTH null-row emit horizons in one twin.  The change log is
    the left-outer twin's frozen-watermark construction (left clicks
    confined to day-tercile 1 so the global watermark freezes at
    ``mxl − 1h`` after batch 1) extended with a RIGHT-side margin:

    - matched pairs emit unconditionally (and no cross-boundary match
      can involve evicted state: tercile-2/3 purchases have
      ``ts > mxl``, while any evicted click satisfies
      ``ts + 6h < mxl − 1h`` — the intervals cannot overlap);
    - an unmatched CLICK null-emits only where the frozen watermark
      proves no purchase can still arrive (``ts + 7h < mxl``), with
      the ±30-minute boundary band excluded from log and oracle;
    - an unmatched PURCHASE null-emits only where the frozen watermark
      proves no click can still arrive — a click matching it would
      need ``ts ≤ r_ts``, impossible once ``r_ts < watermark`` — i.e.
      ``r_ts < mxl − 1h``, with its own ±30-minute band around that
      boundary excluded symmetrically.

    The oracle replays both horizons in SQL over a FULL JOIN.  An
    engine that emits a withheld null row on either side, withholds an
    emittable one, drops a late-classified right row the construction
    proves is never late, or mis-coalesces the key on a right-null row
    all hash-mismatch.  The ``user_id % 4 == 0`` slice is disjoint from
    the inner/semi/timeout twins'."""
    name = "stream_interval_join_full_replay"
    batches = _frozen_watermark_batches(
        spark, sf_dir, F.col("user_id") % 4 == 0, name, right_margin=True
    )
    start, read = _appended(spark, _click_purchase_join("full_outer"))
    out = _drive(
        spark, name, batches, _EVENTS_REPLAY_SCHEMA, start,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


_INTERVAL_JOIN_HOTUSER_REPLAY_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         event_id, ts, event_type, value
  FROM events
  WHERE user_id % 8 = 1)
SELECT l.user_id, l.ts, l.event_id,
       r.ts AS r_ts, r.event_id AS r_event_id, r.value AS r_value
FROM ev l JOIN ev r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '6 hours'
WHERE l.event_type = 'click' AND r.event_type = 'purchase'
"""


@register(
    "stream_interval_join_hotuser_replay",
    _INTERVAL_JOIN_HOTUSER_REPLAY_ORACLE,
)
def stream_interval_join_hotuser_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The inner stream-stream interval join under a CONSTRUCTED hot
    key — the skew regime the batch side proves via
    ``join_skew_salted_hotkey_adversarial`` but streaming JOIN STATE
    did not: ~30 % of the sliced change log is deterministically
    remapped to ``user_id -1`` (``event_id % 10 < 3``, the same rule
    as the transitions hot-key twin), so one key's buffered left AND
    right rows concentrate in a single state-store partition while the
    cold tail hash-spreads across the rest.  The build is otherwise
    BYTE-IDENTICAL to ``stream_interval_join_replay`` (same
    ``interval_join``, [ts, ts+6h], 1-hour watermarks both sides, day
    terciles from one file stream) so the only delta under the gate is
    the skew itself: the hot partition must buffer, match
    cross-boundary, and evict on the same watermark clock as the
    uniform twin — degradation is designed (one big per-key buffer,
    linear scan), never wrong (lost or duplicated hot-key matches
    hash-mismatch against the batch oracle).

    The base slice is ``user_id % 8 == 1`` (a SUBSET of the inner
    twin's 1-in-4 slice, mirrored in the oracle) so the hot key's
    quadratic match density — per-click matches grow linearly with
    row density at fixed 30-day span, so output grows ~quadratically
    per sf decade — stays drive-able at the sf1 probe.  Scale shape:
    state per key is bounded by watermark + interval exactly as in the
    uniform twin; the hot key's buffer is the designed worst case and
    is still watermark-bounded."""
    hot = F.when(F.col("event_id") % 10 < 3, F.lit(-1)).otherwise(
        F.col("user_id")
    )
    batches = [
        t.where(F.col("user_id") % 8 == 1).withColumn("user_id", hot)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    start, read = _appended(spark, _click_purchase_join())
    out = _drive(
        spark, "stream_interval_join_hotuser_replay", batches,
        _EVENTS_REPLAY_SCHEMA, start,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


@register("stream_sliding_1h30m_replay", SLIDING_1H30_ORACLE)
def stream_sliding_1h30m_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three day-tercile event micro-batches through the REAL streaming
    sliding-window aggregation (``streaming/windows.py sliding_agg``:
    1-hour windows every 30 minutes, so every event lands in exactly
    TWO overlapping windows and each window's count merges across the
    state store as later batches contribute their half-open overlap).
    Complete mode surfaces the final per-window counts; the oracle is
    byte-identical to the batch entry ``events_sliding_1h_30m`` —
    streaming-equals-batch under the driver's value-hash gate.  A
    mis-assigned overlap (event counted in one window instead of two)
    or a cross-batch merge loss at a tercile boundary hash-mismatches.
    (As with the other complete-mode twins, the watermark is inert
    here; late-drop semantics stay with the append-mode twins and the
    pytest equals-batch suite.)"""
    from label_maker_dask_spark.streaming.windows import sliding_agg

    def build(df):
        return sliding_agg(
            df,
            "ts",
            "1 hour",
            "30 minutes",
            [],
            [F.count(F.lit(1)).alias("n_events")],
            watermark="30 minutes",
        ).select("window_start", "n_events")

    name = "stream_sliding_1h30m_replay"
    _drive(
        spark, name, _events_raw_day_terciles(spark, sf_dir),
        _EVENTS_REPLAY_SCHEMA, _to_memory(name, build),
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return spark.table(name)


_LATE_DROP_REPLAY_ORACLE = """
WITH days AS (
  SELECT d, row_number() OVER (ORDER BY d) AS rn, count(*) OVER () AS n
  FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)),
cuts AS (
  SELECT max(CASE WHEN rn = n // 3 + 1 THEN d END) AS cut1,
         max(CASE WHEN rn = (2 * n) // 3 + 1 THEN d END) AS cut2
  FROM days),
m2 AS (
  SELECT max(e.ts) AS max2 FROM events e, cuts
  WHERE date_trunc('day', e.ts) >= cuts.cut1
    AND date_trunc('day', e.ts) < cuts.cut2),
mall AS (SELECT max(ts) AS maxall FROM events),
late_counted AS (
  SELECT e.event_type, e.ts FROM events e, cuts, m2
  WHERE date_trunc('day', e.ts) >= cuts.cut1
    AND date_trunc('day', e.ts) < cuts.cut2
    AND date_trunc('hour', e.ts) = date_trunc('hour', m2.max2)
    AND e.event_id % 4 = 0),
unioned AS (
  SELECT event_type, ts FROM events
  UNION ALL SELECT event_type, ts FROM late_counted),
agg AS (
  SELECT event_type, date_trunc('hour', ts) AS window_start,
         count(*) AS n_events
  FROM unioned GROUP BY 1, 2)
SELECT a.window_start, a.event_type, a.n_events
FROM agg a, mall
WHERE a.window_start + INTERVAL '1 hour'
      <= mall.maxall - INTERVAL '1 hour'
"""


@register("stream_late_data_drop_replay", _LATE_DROP_REPLAY_ORACLE)
def stream_late_data_drop_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK LATE-DROP SEMANTICS under the oracle gate — the one
    watermark behavior the complete-mode twins cannot exercise.  Three
    day-tercile micro-batches feed an append-mode tumbling count
    (1-hour windows, 1-hour watermark delay); batch 3 additionally
    carries two kinds of deterministically injected out-of-order
    copies:

    - TOO-LATE rows (``event_id % 9 == 0`` copies of tercile 1, at
      least 3 hours behind tercile 1's own maximum): their windows
      ended far before ANY candidate batch-3 watermark (the engine
      applies the late filter with a prior batch commit's watermark,
      and the exact one-batch lag is version-dependent — the margin
      makes the drop unambiguous), so the engine must DROP them — the
      oracle simply omits them;
    - LATE-BUT-OPEN rows (``event_id % 4 == 0`` copies of tercile 2's
      final hour): behind the watermark's raw timestamp but inside a
      window whose END is still ahead of it, so the engine must COUNT
      them — the oracle adds them in (``late_counted``).

    Append mode emits a window only once its end passes the final
    watermark (max ts over all batches, minus the delay; verified
    empirically: ``Trigger.AvailableNow`` runs a closing no-data batch
    that advances the watermark over the last file), which the oracle
    replays as the ``window_end <= maxall - 1h`` filter — the trailing
    windows are withheld state, not output.  An engine that fails to
    drop the too-late rows, drops the still-open ones, or flushes the
    withheld tail all hash-mismatch.  The oracle reconstructs the
    tercile boundaries from the same distinct-days arithmetic as the
    batch splitter (``_day_terciles``), so the change log stays
    derivable from ``events`` alone at any sf."""
    from label_maker_dask_spark.streaming.windows import tumbling_agg

    t1, t2, t3 = _events_raw_day_terciles(spark, sf_dir)
    max1 = t1.agg(F.max("ts")).first()[0]
    max2 = t2.agg(F.max("ts")).first()[0]
    if max1 is None or max2 is None:
        # Degenerate calendar: _day_terciles on <3 distinct days yields
        # an empty tercile, and None - INTERVAL below would fail
        # analysis with an opaque NullType error.
        raise ValueError(
            "stream_late_data_drop_replay needs >=3 distinct event days "
            "in the source table so every day-tercile is non-empty"
        )
    # Copies only from windows closed under EITHER watermark-advance
    # convention: Spark applies the late filter with the watermark of a
    # PRIOR batch commit, and whether batch 3 sees max(t1..t2)-1h or the
    # one-batch-lagged max(t1)-1h is an engine implementation detail
    # (measured: Spark 4 uses the lagged one).  A 3-hour margin below
    # tercile 1's own maximum keeps every injected window's end at
    # least two hours behind the laggiest candidate watermark, so the
    # drop decision is unambiguous and the oracle stays version-proof.
    too_late = t1.where(
        (F.col("event_id") % 9 == 0)
        & (F.col("ts") <= F.lit(max1) - F.expr("INTERVAL 3 HOURS"))
    )
    late_open = t2.where(
        (F.date_trunc("hour", F.col("ts")) == F.date_trunc("hour", F.lit(max2)))
        & (F.col("event_id") % 4 == 0)
    )
    batches = [t1, t2, t3.unionAll(too_late).unionAll(late_open)]

    def build(df):
        return tumbling_agg(
            df,
            "ts",
            "1 hour",
            ["event_type"],
            [F.count(F.lit(1)).alias("n_events")],
            watermark="1 hour",
        ).select("window_start", "event_type", "n_events")

    start, read = _appended(spark, build)
    out = _drive(
        spark, "stream_late_data_drop_replay", batches,
        _EVENTS_REPLAY_SCHEMA, start,
        partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


_DEDUP_REPLAY_ORACLE = """
SELECT event_id, user_id, event_type, ts, value FROM events
"""


@register("stream_dedup_replay", _DEDUP_REPLAY_ORACLE)
def stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three day-tercile event micro-batches with INJECTED DUPLICATES
    through the REAL stateful streaming dedup (``streaming/windows.py
    dedup_within_watermark``: ``dropDuplicatesWithinWatermark`` keyed on
    ``event_id``).  Each batch carries exact copies of a deterministic
    subset of its own rows (``event_id % 7 == 0`` — same-batch dups) and
    of the PREVIOUS tercile's rows (``event_id % 5 == 0`` — cross-batch
    dups that only the retained key state can catch).  The 35-day delay
    exceeds the events table's 30-day span, so no key state expires and
    the emitted set is exactly one row per distinct ``event_id`` —
    the oracle is simply ``SELECT ... FROM events``.  A state-store
    entry lost at a micro-batch boundary (cross-batch dup re-emitted)
    or an over-eager within-batch drop both hash-mismatch.  Duplicates
    are byte-identical copies, so WHICH occurrence survives is
    irrelevant to the hash."""
    from label_maker_dask_spark.streaming.windows import dedup_within_watermark

    t1, t2, t3 = _events_raw_day_terciles(spark, sf_dir)

    def dups(b, mod):
        return b.where(F.col("event_id") % mod == 0)

    batches = [
        t1.unionAll(dups(t1, 7)),
        t2.unionAll(dups(t2, 7)).unionAll(dups(t1, 5)),
        t3.unionAll(dups(t3, 7)).unionAll(dups(t2, 5)),
    ]

    def build(df):
        return dedup_within_watermark(df, ["event_id"], "ts", delay="35 days")

    start, read = _appended(spark, build)
    out = _drive(
        spark, "stream_dedup_replay", batches, _EVENTS_REPLAY_SCHEMA,
        start, partitions=_DRIVE_PARTITIONS_JVM,
    )
    return read(out)


@register("stream_scd2_bucketed_user_state_replay", _SCD2_REPLAY_ORACLE)
def stream_scd2_bucketed_user_state_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME day-tercile change log as ``stream_scd2_user_state_replay``
    through the BUCKET-PRUNED SCD-2 sink
    (``operators/scd.py stream_scd2_to_parquet_bucketed``: history
    hash-bucketed on the key, each batch re-historizes only the buckets
    its keys touch — valid because every version of a key shares its
    key-hash bucket, so interval closing is bucket-local).  The oracle
    is byte-identical to the plain twin's: bucketing is a physical
    layout choice that must not change a single history row, so a wrong
    bucket route, a mis-closed interval inside one bucket's slice, or a
    per-bucket marker fault all hash-mismatch.  This puts the last
    maintenance sink with pytest-only evidence under the driver's
    cross-engine gate."""
    from label_maker_dask_spark.operators.scd import (
        stream_scd2_to_parquet_bucketed,
    )

    out = _drive(
        spark, "stream_scd2_bucketed_user_state_replay",
        _events_day_tercile_batches(spark, sf_dir), _SCD2_CHANGE_SCHEMA,
        lambda s, o, c: stream_scd2_to_parquet_bucketed(
            s, o, c, keys=["user_id"], ts_col="ts", tie_break="event_id",
            n_buckets=8,
        ),
    )
    return _read_table(spark, out, _SCD2_HISTORY_SCHEMA).select(
        "user_id", "event_id", "state", "valid_from", "valid_to", "is_current"
    )


def _transitions_oracle(users: str) -> str:
    """The whole-table lag-window edge count the sliced transitions
    twins gate against, over the events whose ``user_id`` passes
    ``users`` (a SQL predicate the cell also applies)."""
    return f"""
WITH s AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src
  FROM events WHERE {users})
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM s WHERE src IS NOT NULL GROUP BY src, dst
"""


def _weight_totals(spark, name: str, batches, stop_after=None) -> DataFrame:
    """The transitions twins' drive and read-back: ``batches`` through
    the ``applyInPandasWithState`` edge builder
    (``streaming_transition_counts``) to the file sink, whose appended
    per-batch (src, dst) delta counts are summed per edge.  Full drive
    parallelism: per-key pandas compute scales with data (see
    ``_DRIVE_PARTITIONS``)."""
    from label_maker_dask_spark.streaming.stateful import (
        streaming_transition_counts,
    )

    start, read = _appended(spark, streaming_transition_counts)
    out = _drive(
        spark, name, batches, _EVENTS_REPLAY_SCHEMA, start, stop_after
    )
    return read(out).groupBy("src", "dst").agg(F.sum("w").alias("w"))


#: the transitions twins' user slices, applied by each cell and its oracle
_TRANSITIONS_STATEFUL_USERS = "user_id % 4 = 1"


@register(
    "stream_transitions_stateful_replay",
    _transitions_oracle(_TRANSITIONS_STATEFUL_USERS),
)
def stream_transitions_stateful_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CUSTOM stateful operator surface (``applyInPandasWithState``,
    ``streaming/stateful.py streaming_transition_counts``) under the
    cross-engine gate: three day-tercile micro-batches through the real
    arbitrary-state path — per-user last-event-type carried in the
    state store so transitions that STRADDLE a micro-batch boundary are
    chained, the case a stateless per-batch lag silently drops.  The
    sink collects each batch's (src, dst) delta counts (append mode,
    event-type²-bounded rows per batch); summing the deltas must equal
    the batch lag-window edge count over the whole table — the oracle.
    A dropped boundary transition, a stale state row after replay, or a
    double-counted delta all hash-mismatch.  Day terciles arrive in
    time order, so the operator's ordered-delivery contract holds by
    construction.  The change log is sliced to 1-in-4 users
    (``user_id % 4 == 1``, mirrored in the oracle): boundary chaining
    and replay idempotency are per-user properties, and per the
    key-cardinality probe (SCALE.md round 12) the twin's cost is
    per-KEY invocation overhead — the slice cuts exactly that without
    touching what the gate proves.  The hot-key twin stays UNsliced:
    its >=512-row vectorized-fold path needs the full hot group."""
    batches = [
        t.where(_TRANSITIONS_STATEFUL_USERS)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    return _weight_totals(spark, "stream_transitions_stateful_replay", batches)


_TRANSITIONS_RESTART_USERS = "user_id % 4 = 2"


@register(
    "stream_transitions_restart_replay",
    _transitions_oracle(_TRANSITIONS_RESTART_USERS),
)
def stream_transitions_restart_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSTOM-STATE (``applyInPandasWithState``) recovery across a
    checkpoint restart — the one state-store class the restart matrix
    didn't yet gate (sink resume: ``stream_upsert_restart_replay``;
    built-in aggregation state: ``stream_session_restart_replay``;
    join buffers: ``stream_interval_join_restart_replay``; this entry
    closes it with ARBITRARY user state).  Run 1 drains day terciles
    1-2 and stops at a batch boundary; a NEW query on the SAME
    checkpoint delivers tercile 3, so every transition that straddles
    the tercile-2/3 boundary must be chained through a per-user
    last-event-type row the resumed query RELOADED from the
    checkpointed state store — custom state lost on restart drops
    exactly those boundary edges, state applied twice double-counts
    them, and both hash-mismatch against the whole-table lag oracle.
    Disjoint 1-in-4 user slice (``user_id % 4 == 2``) from the
    non-restart twin's, mirrored in the oracle."""
    batches = [
        t.where(_TRANSITIONS_RESTART_USERS)
        for t in _events_raw_day_terciles(spark, sf_dir)
    ]
    return _weight_totals(
        spark, "stream_transitions_restart_replay", batches, stop_after=2
    )


def _events_cents(spark, sf_dir: str, users) -> DataFrame:
    """The events of the ``users`` slice with ``value`` quantized to
    integer cents BEFORE the stream (exact decimal round, mirrored in
    the oracles), so a pandas-side float64 running sum adds
    exactly-representable integers — order-free and engine-independent,
    the module's integer-summation rule applied to the arbitrary-state
    path."""
    return (
        _t(spark, sf_dir, "events")
        .where(users)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            F.round(F.col("value").cast("decimal(28,8)") * 100, 0)
            .cast("long")
            .cast("double")
            .alias("value"),
        )
    )


_RUNNING_STATS_REPLAY_ORACLE = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CAST(round(CAST(value AS DECIMAL(28,8)) * 100, 0)
                     AS BIGINT)) AS BIGINT) AS total_cents,
       max(ts) AS last_ts
FROM events WHERE user_id % 4 = 2 GROUP BY user_id
"""


@register("stream_running_stats_replay", _RUNNING_STATS_REPLAY_ORACLE)
def stream_running_stats_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The UPDATE-mode custom stateful operator
    (``streaming/stateful.py running_user_stats``) under the gate:
    day-tercile micro-batches through the real
    ``applyInPandasWithState`` fold — per-user (count, sum, max-ts)
    state merged across batches — keeping each batch's emitted updates
    and selecting the final one per user (``n_events`` strictly
    increases across a user's emissions, so the max row IS the end
    state).  The oracle is the whole-table hash aggregate: a state row
    lost at a batch boundary, a double-fold on replay, or a stale
    update all hash-mismatch.

    Values are quantized to integer cents BEFORE the stream (exact
    decimal round, mirrored in the oracle) so the pandas-side float64
    running sum adds exactly-representable integers — order-free and
    engine-independent, the module's integer-summation rule applied to
    the arbitrary-state path.  Driver residency: the memory sink holds
    update rows bounded by users × 3 batches (key-bounded, never
    input-sized), the documented exception to the parquet-sink rule.
    The change log is sliced to 1-in-4 users (``user_id % 4 == 2``,
    mirrored in the oracle): the fold is a per-user property and the
    twin's cost is per-KEY invocation overhead (key-cardinality probe,
    SCALE.md round 12) — the slice cuts that without weakening the
    gate."""
    from pyspark.sql import Window

    from label_maker_dask_spark.streaming.stateful import running_user_stats

    name = "stream_running_stats_replay"
    ev = _events_cents(spark, sf_dir, F.col("user_id") % 4 == 2)
    # applyInPandasWithState: full drive parallelism (_DRIVE_PARTITIONS)
    _drive(
        spark, name, _day_terciles(ev), _EVENTS_REPLAY_SCHEMA,
        _to_memory(name, running_user_stats, "update"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.table(name).withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.col("total_value").cast("long").alias("total_cents"),
            "last_ts",
        )
    )


_SESSION_TIMEOUT_REPLAY_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, ts,
         CAST(round(CAST(value AS DECIMAL(28,8)) * 100, 0) AS BIGINT)
           AS cents
  FROM events
  WHERE user_id % 8 = 2),
flagged AS (
  SELECT user_id, event_id, ts, cents,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT user_id, ts, cents,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid
  FROM flagged)
SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS value_cents
FROM sessions GROUP BY user_id, sid
"""


@register("stream_session_timeout_replay", _SESSION_TIMEOUT_REPLAY_ORACLE)
def stream_session_timeout_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The EVENT-TIME-TIMEOUT arbitrary-state surface
    (``streaming/stateful.py streaming_session_stats``,
    ``GroupStateTimeout.EventTimeTimeout``) under the cross-engine
    gate — the one ``applyInPandasWithState`` capability the other
    twins don't touch: a quiet session is closed by the STATE STORE's
    timeout firing, not by a later event.  Mid-stream sessions close
    when a same-user event exceeds the 30-minute gap (emitted in that
    batch, including sessions stitched across tercile boundaries
    through carried state); each user's FINAL session can only emit via
    its timeout.  A far-future sentinel event (user -99, max ts + 10
    days) rides in the last batch so the closing no-data batch's
    watermark passes every real session's ``last_ts + gap`` horizon —
    all real sessions time out deterministically, the sentinel's own
    open session stays withheld (filtered).  The oracle is the plain
    gaps-and-islands sessionization: a timeout that never fires
    (missing final sessions), fires early (split sessions), or a
    stale state row emitting twice all hash-mismatch.  Values are
    pre-quantized to integer cents (the module's integer-summation
    rule).  The change log is sliced to 1-in-8 users
    (``user_id % 8 == 2``, disjoint from the interval twins' 1-in-4
    slices, mirrored in the oracle): timeout firing and boundary
    stitching are per-user properties, and the slice bounds the
    per-key Python invocation cost plus the per-batch expired-key
    state-store scan the EventTimeTimeout machinery pays.  Measured
    effect (SCALE.md round 12): at sf0.1 the entry is FLOORED at ~9 s
    of fixed drive machinery (4 availableNow batches × state tasks ×
    python round-trips) so the slice moves nothing there, but at sf1 —
    where per-key cost dominates — it cut the drive 39 s → 15.5 s."""
    from datetime import timedelta

    from label_maker_dask_spark.streaming.stateful import (
        streaming_session_stats,
    )

    name = "stream_session_timeout_replay"
    ev = _events_cents(spark, sf_dir, F.col("user_id") % 8 == 2)
    t1, t2, t3 = _day_terciles(ev)
    mx = ev.agg(F.max("ts")).first()[0]
    if mx is None:
        # no event to place the sentinel after, and so no timeout to fire
        raise ValueError(
            f"{name} needs >=1 event in its user slice (user_id % 8 == 2); "
            "the source events table is too small"
        )
    # JVM-side single-row construction: createDataFrame of one local row
    # parallelizes to defaultParallelism PYTHON partitions (32 python
    # worker round-trips ≈ 4 s of the entry's 8.7 s at sf0.1 — profiled
    # round 13); range(1)+lit stays a one-partition JVM LocalRelation
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("event_id"),
        F.lit(-99).cast("long").alias("user_id"),
        F.lit("sentinel").alias("event_type"),
        F.lit(mx + timedelta(days=10)).cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    batches = [t1, t2, t3.unionByName(sentinel)]

    def build(df):
        return streaming_session_stats(
            df.withWatermark("ts", "1 hour"), gap_minutes=30
        )

    # applyInPandasWithState: full drive parallelism (_DRIVE_PARTITIONS)
    start, read = _appended(spark, build)
    out = _drive(spark, name, batches, _EVENTS_REPLAY_SCHEMA, start)
    return read(out).where(F.col("user_id") != -99)


_TRANSITIONS_HOTKEY_REPLAY_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         event_id, ts, event_type
  FROM events),
s AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src
  FROM ev)
SELECT src, dst, CAST(count(*) AS BIGINT) AS w
FROM s WHERE src IS NOT NULL GROUP BY src, dst
"""


@register(
    "stream_transitions_hotkey_replay", _TRANSITIONS_HOTKEY_REPLAY_ORACLE
)
def stream_transitions_hotkey_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The stateful transition counter under a CONSTRUCTED hot key: ~30 %
    of all events are deterministically remapped to ``user_id -1``
    (``event_id % 10 < 3`` — the same adversarial idiom as
    ``sessionize_hotuser_adversarial``) before the three day-tercile
    micro-batches, so at the driver's sf0.01 gate the hot group carries
    ~1 000 rows per batch — past the 512-row switch where
    ``streaming/stateful.py _transition_counts_fn`` leaves the per-row
    loop for the vectorized shift + ``value_counts`` path.  The natural
    twin (``stream_transitions_stateful_replay``) never reaches that
    threshold, so the hot-key path's equality to the loop path was
    pinned only by a unit test; this entry proves it cross-engine, ON
    the skewed distribution it exists for, including the boundary
    chaining of the hot user's last event type across micro-batches.
    The oracle applies the identical remap to the batch lag-window edge
    count.  Scale shape: state stays one row per user; the hot group's
    per-batch work is a vectorized pandas fold over its Arrow batch —
    the regime a bot-heavy 100 TB event log produces."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("user_id"),
        "event_type",
        "ts",
        "value",
    )
    return _weight_totals(
        spark, "stream_transitions_hotkey_replay", _day_terciles(ev)
    )



def _pq_stream_oracle():
    from label_maker_dask_spark.operators.similarity import pq_adc_oracle_sql

    return pq_adc_oracle_sql(
        "vec_id % 50 = 0",
        corpus_pred="vec_id % 2 = 0",
        train_pred="vec_id % 8 = 0",
    )


@register("stream_pq_index_replay", _pq_stream_oracle())
def stream_pq_index_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ index's streaming-maintenance loop under the value-hash
    gate: the codebooks train on the 1-in-8 bootstrap slice
    (``write_pq_index``), three micro-batches of NEW vectors then flow
    through the real exactly-once append sink
    (``stream_embeddings_to_pq_index``: frozen codebooks, intent/
    inventory replay bracket), and the maintained index answers the
    stored ADC query.  The oracle replays training ON THE BOOTSTRAP
    SLICE ONLY and encoding on the full ingested corpus — so a sink that
    retrains per batch, re-appends a replayed batch, or drops a
    micro-batch hash-mismatches.  Corpus sliced 1-in-2 (the stream-twin
    slicing convention; the theorem is slice-invariant)."""
    from label_maker_dask_spark.operators.similarity import (
        pq_adc_topk_stored,
        stream_embeddings_to_pq_index,
        write_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") % 2 == 0)
    boot = emb.where(F.col("vec_id") % 8 == 0)
    rest = emb.where(F.col("vec_id") % 8 != 0)
    batches = [rest.where(F.col("vec_id") % 6 == i) for i in (0, 2, 4)]

    def sink(stream, base, ckpt):
        write_pq_index(boot, base)
        return stream_embeddings_to_pq_index(stream, base, ckpt)

    base = _drive(
        spark, "stream_pq_index_replay", batches,
        "vec_id long, embedding array<float>", sink,
    )
    return pq_adc_topk_stored(
        spark, base, emb.where(F.col("vec_id") % 50 == 0), k=5
    )



_SCHEMA_EVOLUTION_ORACLE = """
SELECT o_orderkey,
       o_custkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT)
         + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END
         + CASE WHEN o_orderkey % 11 = 0 THEN 500 ELSE 0 END
         AS totalprice_cents,
       CASE WHEN o_orderkey % 11 = 0 THEN o_orderstatus END AS o_orderstatus
FROM orders
"""


@register("stream_upsert_schema_evolution_replay", _SCHEMA_EVOLUTION_ORACLE)
def stream_upsert_schema_evolution_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADDITIVE SCHEMA EVOLUTION through the real upsert sink, in the
    shape it actually happens: the change feed runs two batches (a
    snapshot and price updates), the stream STOPS at a batch boundary,
    and a new query resumes on the same checkpoint with a WIDENED source
    schema — batch 3's updates carry a brand-new ``o_orderstatus``
    column (the upstream producer deployed a new field).  The sink's
    ``evolve_schema`` merge widens the base with typed NULLs, so rows
    last touched before the column existed read NULL and batch-3-touched
    rows carry the value.  The oracle states the end state per key — a
    sink that silently DROPS the new column (the default), retroactively
    fills old rows, or loses the evolution across the swap all
    hash-mismatch.  (The bucket-pruned sink deliberately refuses this
    knob: untouched bucket files would keep the old schema.)"""
    from label_maker_dask_spark.streaming.upsert import (
        stream_upsert_to_parquet,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("totalprice_cents"),
    )
    k = F.col("o_orderkey")
    b0 = orders.drop("o_orderstatus").withColumn(
        "seq", F.lit(1).cast("long")
    )
    b1 = (
        orders.drop("o_orderstatus")
        .where(k % 7 == 0)
        .withColumn("totalprice_cents", F.col("totalprice_cents") + 1000)
        .withColumn("seq", F.lit(2).cast("long"))
    )
    b2 = (
        orders.where(k % 11 == 0)
        .withColumn(
            "totalprice_cents",
            F.col("totalprice_cents")
            + F.when(k % 7 == 0, 1000).otherwise(0)
            + 500,
        )
        .withColumn("seq", F.lit(3).cast("long"))
        .select(
            "o_orderkey", "o_custkey", "totalprice_cents", "o_orderstatus",
            "seq",
        )
    )
    schema_a = (
        "o_orderkey long, o_custkey long, totalprice_cents long, seq long"
    )
    schema_b = (
        "o_orderkey long, o_custkey long, totalprice_cents long, "
        "o_orderstatus string, seq long"
    )

    out = _drive(
        spark, "stream_upsert_schema_evolution_replay", [b0, b1, b2],
        (schema_a, schema_b),
        lambda s, o, c: stream_upsert_to_parquet(
            s, o, c, keys=["o_orderkey"], seq_col="seq", evolve_schema=True
        ),
        stop_after=2,
    )
    return _read_table(
        spark, out,
        "o_orderkey long, o_custkey long, totalprice_cents long, "
        "o_orderstatus string",
    )


_TYPE_WIDENING_ORACLE = """
SELECT o_orderkey,
       o_custkey,
       CAST(round(o_totalprice * 100, 0) AS BIGINT)
         + CASE WHEN o_orderkey % 7 = 0 THEN 1000 ELSE 0 END
         + CASE WHEN o_orderkey % 11 = 0 THEN 10000000000 ELSE 0 END
         AS totalprice_cents
FROM orders
"""


@register("stream_upsert_type_widening_replay", _TYPE_WIDENING_ORACLE)
def stream_upsert_type_widening_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TYPE-WIDENING schema evolution through the real upsert sink — the
    OTHER common upstream deploy next to the added-column twin
    (``stream_upsert_schema_evolution_replay``): the change feed runs
    two batches with ``totalprice_cents`` as INT, the stream stops at a
    batch boundary, and the resumed query declares the column widened
    to BIGINT with batch 3 carrying values past 2^33 (a cent counter
    outgrowing int32 is exactly how this happens in production).  The
    sink's ``evolve_schema`` merge up-casts the stored column via the
    lossless-widening lattice (operators/merge.py ``_is_widening``);
    without the flag the type drift now raises instead of silently
    coercing.  The oracle states the per-key end state — a sink that
    truncates to int (wrapping the big values), drops batch 3, or
    re-applies a batch across the restart all hash-mismatch."""
    from label_maker_dask_spark.streaming.upsert import (
        stream_upsert_to_parquet,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("int")
        .alias("totalprice_cents"),
    )
    k = F.col("o_orderkey")
    b0 = orders.withColumn("seq", F.lit(1).cast("long"))
    b1 = (
        orders.where(k % 7 == 0)
        .withColumn(
            "totalprice_cents",
            (F.col("totalprice_cents") + 1000).cast("int"),
        )
        .withColumn("seq", F.lit(2).cast("long"))
    )
    b2 = (
        orders.where(k % 11 == 0)
        .withColumn(
            "totalprice_cents",
            F.col("totalprice_cents").cast("long")
            + F.when(k % 7 == 0, 1000).otherwise(0)
            + F.lit(10_000_000_000),
        )
        .withColumn("seq", F.lit(3).cast("long"))
    )
    schema_narrow = (
        "o_orderkey long, o_custkey long, totalprice_cents int, seq long"
    )
    schema_wide = (
        "o_orderkey long, o_custkey long, totalprice_cents long, seq long"
    )

    out = _drive(
        spark, "stream_upsert_type_widening_replay", [b0, b1, b2],
        (schema_narrow, schema_wide),
        lambda s, o, c: stream_upsert_to_parquet(
            s, o, c, keys=["o_orderkey"], seq_col="seq", evolve_schema=True
        ),
        stop_after=2,
    )
    return _read_table(
        spark, out, "o_orderkey long, o_custkey long, totalprice_cents long"
    )


def _bpe_stream_oracle():
    from label_maker_dask_spark.operators.bpe import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql(12)


@register("stream_bpe_word_freq_replay", _bpe_stream_oracle())
def stream_bpe_word_freq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training over a STREAM-MAINTAINED word-frequency table:
    three per-batch word-count deltas (docs split by doc_id % 3) drive
    the real additive accumulate sink (exactly-once, in-table marker),
    and BPE merges then train FROM the maintained table
    (operators/bpe.py bpe_train_merges_from_frequencies).  Word counts
    are batch-split invariant, so the oracle is the BATCH training
    oracle verbatim — the hash gate proves continuous word-count
    ingestion composes with training to the identical merge list (the
    production shape: the corpus scan is amortized into the stream, and
    retraining is a types-table job, never a corpus rescan)."""
    from label_maker_dask_spark.operators.bpe import (
        bpe_train_merges_from_frequencies,
        doc_word_rows,
    )
    from label_maker_dask_spark.streaming.upsert import (
        stream_accumulate_to_parquet,
    )

    docs = _t(spark, sf_dir, "documents")
    words = doc_word_rows(docs).select(
        "word", F.lit(1).cast("long").alias("freq"),
        (F.col("doc_id") % 3).alias("b"),
    )
    batches = [
        words.where(F.col("b") == i)
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
        for i in range(3)
    ]
    schema = "word string, freq long"
    out = _drive(
        spark, "stream_bpe_word_freq_replay", batches, schema,
        lambda s, o, c: stream_accumulate_to_parquet(
            s, o, c, keys=["word"], sum_cols=["freq"]
        ),
    )
    maintained = _read_table(spark, out, schema).select("word", "freq")
    return bpe_train_merges_from_frequencies(maintained, rounds=12)
