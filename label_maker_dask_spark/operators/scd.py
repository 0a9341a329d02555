"""Slowly-changing-dimension type 2: history-keeping upsert.

The engine's CDC merge (``operators/merge.py``) is SCD type 1 — the new
value REPLACES the old.  Type 2 keeps every version with a validity
interval, the shape dimension tables need for point-in-time joins ("what
was this customer's segment when the order shipped?" — which then feeds
``operators/asof.asof_join_merge``).

Two forms, proven equal (tests/test_scd.py):

- :func:`historize_changes` — batch: turn a full change log into the
  complete history in one pass (per-key ``lead`` window: each change is
  valid until the next one).
- :func:`scd2_apply` — incremental: apply one change batch onto an
  existing history table (close the affected keys' current rows, append
  the new versions).  Applying batches in order equals historizing the
  whole log at once, so a foreachBatch sink over ``scd2_apply`` +
  a maintenance sink (e.g. the versioned bucketed table) maintains the
  history continuously.

Scale shape: historize is one window per key (the chunked trick applies
if a key is pathologically hot — but dimension keys hold versions, not
events, so cardinality per key is small by construction); ``scd2_apply``
is the broadcast-merge shape — the history table never shuffles.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from label_maker_dask_spark.streaming.bucketed import _apply_bucketed
from label_maker_dask_spark.streaming.commit import start_sink
from label_maker_dask_spark.streaming.upsert import rewrite_exactly_once


def historize_changes(
    changes: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tie_break: str,
) -> DataFrame:
    """Full SCD-2 history from a change log: one row per change with
    ``valid_from`` (its timestamp), ``valid_to`` (the NEXT change's
    timestamp for the key, null while current), and ``is_current``.
    ``tie_break`` (unique) orders simultaneous changes
    deterministically."""
    w = Window.partitionBy(*keys).orderBy(ts_col, tie_break)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
    )


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    tie_break: str,
) -> DataFrame:
    """Apply one change batch onto an SCD-2 history table; returns the
    new history.  Affected keys' current rows close at the batch's first
    change for that key; the batch's own rows historize among themselves
    and append.  The batch must be entirely LATER than each affected
    key's current ``valid_from`` (enforced — out-of-order history repair
    needs a rebuild via :func:`historize_changes`).

    Plan shape: the (small) batch broadcasts twice — once to close
    current rows (left join on key + first-change timestamp), once for
    its own historization window — the big history side never shuffles.
    """
    b = historize_changes(batch, keys, ts_col, tie_break)
    firsts = batch.groupBy(*keys).agg(F.min(ts_col).alias("_first_ts"))

    guard = (
        history.where(F.col("is_current"))
        .join(F.broadcast(firsts), list(keys))
        .where(F.col(ts_col) >= F.col("_first_ts"))
        .limit(1)
        .count()
    )
    if guard:
        raise ValueError(
            "scd2_apply: batch contains changes at or before an affected "
            "key's current valid_from; out-of-order history repair needs "
            "a rebuild (historize_changes over the full log)"
        )

    h = history.alias("h")
    fx = F.broadcast(firsts).alias("f")
    on = [F.col(f"h.{k}").eqNullSafe(F.col(f"f.{k}")) for k in keys]
    hit = F.col("f._first_ts").isNotNull()
    closed = h.join(fx, on, "left").select(
        *[
            F.when(
                hit & F.col("h.is_current"), F.col("f._first_ts")
            ).otherwise(F.col("h.valid_to")).alias(c)
            if c == "valid_to"
            else F.when(
                hit & F.col("h.is_current"), F.lit(False)
            ).otherwise(F.col("h.is_current")).alias(c)
            if c == "is_current"
            else F.col(f"h.{c}").alias(c)
            for c in history.columns
        ]
    )
    return closed.unionByName(b.select(*history.columns))


__all__ = ["historize_changes", "scd2_apply", "pit_join",
           "stream_scd2_to_parquet", "stream_scd2_to_parquet_bucketed"]


def pit_join(
    facts: DataFrame,
    history: DataFrame,
    on: Sequence[str],
    fact_time: str,
    tie_break: str,
) -> DataFrame:
    """Point-in-time join: each fact row paired with the dimension
    version valid AT its timestamp.  For a well-formed SCD-2 history
    (contiguous intervals per key), the version containing ``t`` is
    exactly the latest version with ``valid_from <= t`` — so this lowers
    to the merge as-of join (``operators/asof.asof_join_merge``,
    O(facts + versions) per key) instead of an interval-containment
    range join; equality against the containment formulation is tested.
    ``is_current``/``valid_to`` ride along, so callers can also see
    whether the matched version is still live."""
    from label_maker_dask_spark.operators.asof import asof_join_merge

    return asof_join_merge(
        facts,
        history,
        on=on,
        left_time=fact_time,
        right_time="valid_from",
        tie_break=tie_break,
    )


def _scd2_merge(keys: Sequence[str], ts_col: str, tie_break: str):
    """The SCD-2 sinks' merge step: ``(history or None, batch)`` → the
    new history."""

    def merge(history: Optional[DataFrame], batch: DataFrame) -> DataFrame:
        if history is None:
            return historize_changes(batch, keys, ts_col, tie_break)
        return scd2_apply(history, batch, keys, ts_col, tie_break)

    return merge


def stream_scd2_to_parquet(
    changes: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    ts_col: str,
    tie_break: str,
    available_now: bool = True,
):
    """Maintain an SCD-2 history table from a change stream: each
    micro-batch runs :func:`scd2_apply` and swaps the updated history in
    with the crash-recoverable rename-aside swap the other maintenance
    sinks use.  ``scd2_apply`` REJECTS replays of already-applied changes
    (they sit at or before the affected keys' current ``valid_from``), so
    exactly-once needs the in-table marker
    (:func:`streaming.upsert.rewrite_exactly_once`)."""
    merge_fn = _scd2_merge(keys, ts_col, tie_break)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        rewrite_exactly_once(
            batch.sparkSession, base_path, batch_id, run_id,
            lambda history: merge_fn(history, batch),
            "stream_scd2_to_parquet: history",
        )

    return start_sink(changes, checkpoint, apply, "append", available_now)


def stream_scd2_to_parquet_bucketed(
    changes: DataFrame,
    base_path: str,
    checkpoint: str,
    keys: Sequence[str],
    ts_col: str,
    tie_break: str,
    n_buckets: int = 64,
    available_now: bool = True,
):
    """SCD-2 maintenance over a BUCKETED history base — the composition
    of :func:`stream_scd2_to_parquet` semantics with the bucket-pruned
    mechanics of :mod:`streaming.bucketed`: per micro-batch, only the
    buckets holding the batch's affected keys are read, re-historized
    (:func:`scd2_apply` over just that slice — valid because every
    version of a key shares its key-hash bucket, so closing current rows
    and chaining the batch's own rows is bucket-local), and swapped;
    untouched history is never read or rewritten.  This is the shape
    that keeps SCD-2 history affordable at 100 TB: per-batch cost is
    O(delta + touched-bucket history), not O(total history).

    Exactly-once rides on the per-bucket markers (partial replays
    re-merge only unapplied buckets) — the :mod:`streaming.bucketed`
    contract."""
    merge_fn = _scd2_merge(keys, ts_col, tie_break)

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        _apply_bucketed(
            batch, base_path, keys, n_buckets, batch_id, run_id, merge_fn
        )

    return start_sink(changes, checkpoint, apply, "append", available_now)
