"""Time-series resampling operators (hypertable-style rollups).

The reference has no time dimension at all (its one dataset is a static
tile grid); the driver's ``events`` stream table is where a production
pipeline does candlestick/rollup work, so the engine carries it as a
first-class operator.

Everything here is single-shuffle column algebra: bucket the timestamp with
``date_trunc``/``window``, then one hash aggregate per (key, bucket).
Open/close (first/last by event time) use the min-of-struct trick — a
lexicographic ``min(struct(ts, tiebreak, value))`` is an ``argmin`` that
stays inside map-side partial aggregation, unlike a window row_number
formulation which would force a per-group sort of every row.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ohlc_aggs(
    ts_col: str, value_col: str, tie_break: str | None = None
) -> list[Column]:
    """The OHLC aggregate expressions (open/high/low/close/n) on their own,
    for composing with ANY grouping — ``resample_ohlc`` pairs them with a
    ``date_trunc`` batch bucket; a streaming job pairs them with
    ``streaming.windows.tumbling_agg`` (they are plain min/max state, so
    they merge across micro-batches; equals-batch is pinned in
    tests/test_streaming.py)."""
    order = [F.col(ts_col)] + ([F.col(tie_break)] if tie_break else [])
    first_s = F.min(F.struct(*order, F.col(value_col).alias("v")))
    last_s = F.max(F.struct(*order, F.col(value_col).alias("v")))
    return [
        first_s.getField("v").alias("open"),
        F.max(value_col).alias("high"),
        F.min(value_col).alias("low"),
        last_s.getField("v").alias("close"),
        F.count(F.lit(1)).alias("n"),
    ]


def resample_ohlc(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    granularity: str = "hour",
    tie_break: str | None = None,
) -> DataFrame:
    """Per-key OHLC (open/high/low/close) + count at a fixed granularity.

    ``granularity`` is a ``date_trunc`` unit ('hour', 'day', ...).  Pass
    ``tie_break`` (a unique column) so equal timestamps resolve open/close
    deterministically — without it, concurrent events make first/last
    engine-dependent.

    Scale shape: ONE shuffle on (keys, bucket); open/close ride the same
    partial-aggregable min/max as high/low, so the map side emits one row
    per (key, bucket) regardless of input volume.  This is the plan a
    hypertable continuous aggregate maintains incrementally.
    """
    bucket = F.date_trunc(granularity, F.col(ts_col)).alias("bucket")
    return df.groupBy(*keys, bucket).agg(
        *ohlc_aggs(ts_col, value_col, tie_break)
    )


__all__ = ["ohlc_aggs", "resample_ohlc"]
