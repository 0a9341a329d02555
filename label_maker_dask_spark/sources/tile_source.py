"""Slippy-map tile set as a Spark Python DataSource (Spark 4 connector
API): ``spark.read.format("slippy_tiles")`` with ``bounds``/``zoom``
options, partition-parallel generation, and FILTER PUSHDOWN — x/y/z
range predicates prune tile ROWS *and* whole partitions before any task
launches.

Two source forms for the same tile set, by design:

- :func:`tiles.tiles_df` (``spark.range`` + arithmetic) is the hot
  path — pure codegen, zero Python in the row loop.  Catalog queries
  and the job facade use it.
- this module is the CONNECTOR form: it demonstrates that the engine's
  sources plug into Spark's own DataSource V2 Python API (usable from
  ``spark.read.format(...)`` by name, SQL ``CREATE TABLE ... USING``,
  and any tool that speaks options), and it carries the pushdown
  contract a real external tile catalog connector would need.  The
  reference has no pluggable source at all — tiles are a driver-side
  mercantile list (reference main.py:89).

NOTE: ``pushFilters`` requires ``spark.sql.python.filterPushdown.enabled=true``
(off by default in Spark 4.1); without it Spark refuses a reader that
implements the method, loudly.

Partitioning: one :class:`InputPartition` per band of tile ROWS (y
ranges) — bands are equal-size, so a continent bbox spreads evenly;
``numPartitions`` option caps the band count.  Pushdown: EqualTo /
LessThan(OrEqual) / GreaterThan(OrEqual) on x/y/z tighten the generated
index ranges exactly (they are ACCEPTED, i.e. not re-evaluated by
Spark); any other filter is returned to Spark to evaluate post-scan.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from label_maker_dask_spark.streaming.commit import read_state, write_state
from label_maker_dask_spark.tiles import tile_range

# the committed frontier a floordir holds, as JSON
_FLOOR_FILE = "_slippy_floor.json"


def _set_grid(reader, options) -> List[float]:
    """Parse and validate the ``bounds``/``zoom`` options for any of the
    readers: sets ``reader.zoom`` and its tile index range
    ``xmin, ymin, xmax, ymax``; → the bounds."""
    bounds_s, zoom_s = options.get("bounds"), options.get("zoom")
    if bounds_s is None or zoom_s is None:
        raise ValueError(
            "slippy_tiles requires options bounds='w,s,e,n' and zoom"
        )
    bounds = [float(v) for v in str(bounds_s).split(",")]
    if len(bounds) != 4:
        raise ValueError(
            f"slippy_tiles bounds must be 'w,s,e,n' (got {bounds_s!r})"
        )
    reader.zoom = int(zoom_s)
    reader.xmin, reader.ymin, reader.xmax, reader.ymax = tile_range(
        bounds, reader.zoom
    )
    return bounds


class _Band(InputPartition):
    def __init__(self, zoom, xmin, xmax, ymin, ymax):
        self.zoom, self.xmin, self.xmax = zoom, xmin, xmax
        self.ymin, self.ymax = ymin, ymax


class SlippyTileDataSource(DataSource):
    """``format("slippy_tiles")``: options ``bounds`` ("w,s,e,n" WGS84),
    ``zoom`` (int), ``numPartitions`` (int, default 8)."""

    @classmethod
    def name(cls) -> str:
        return "slippy_tiles"

    def schema(self) -> str:
        return "z int, x bigint, y bigint"

    def reader(self, schema: StructType) -> "SlippyTileReader":
        return SlippyTileReader(self.options)

    def simpleStreamReader(  # noqa: N802 (Spark API casing)
        self, schema: StructType
    ) -> "SlippyTileStreamReader":
        return SlippyTileStreamReader(self.options)

    def streamReader(  # noqa: N802
        self, schema: StructType
    ) -> "SlippyTilePartitionedStreamReader":
        """Spark tries this first and falls back to
        ``simpleStreamReader`` on PySparkNotImplementedError — so the
        ``streamingMode=partitioned`` option selects the
        executor-parallel reader, anything else the simple one."""
        if str(self.options.get("streamingmode", "")).lower() == (
            "partitioned"
        ):
            return SlippyTilePartitionedStreamReader(self.options)
        from pyspark.errors import PySparkNotImplementedError

        raise PySparkNotImplementedError(
            errorClass="NOT_IMPLEMENTED",
            messageParameters={"feature": "streamReader"},
        )


class SlippyTileReader(DataSourceReader):
    def __init__(self, options):
        _set_grid(self, options)
        self.n_parts = max(1, int(options.get("numpartitions", 8)))

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Tighten the generated x/y ranges (and short-circuit on a z
        mismatch) from supported comparison filters; yield back the
        rest for Spark to evaluate.  An accepted filter makes the range
        EXACT, so Spark need not re-check it."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            v = getattr(f, "value", None)
            ok = isinstance(v, int) and not isinstance(v, bool)
            if col == "x" and ok:
                if isinstance(f, EqualTo):
                    self.xmin, self.xmax = max(self.xmin, v), min(self.xmax, v)
                elif isinstance(f, LessThan):
                    self.xmax = min(self.xmax, v - 1)
                elif isinstance(f, LessThanOrEqual):
                    self.xmax = min(self.xmax, v)
                elif isinstance(f, GreaterThan):
                    self.xmin = max(self.xmin, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.xmin = max(self.xmin, v)
                else:
                    yield f
            elif col == "y" and ok:
                if isinstance(f, EqualTo):
                    self.ymin, self.ymax = max(self.ymin, v), min(self.ymax, v)
                elif isinstance(f, LessThan):
                    self.ymax = min(self.ymax, v - 1)
                elif isinstance(f, LessThanOrEqual):
                    self.ymax = min(self.ymax, v)
                elif isinstance(f, GreaterThan):
                    self.ymin = max(self.ymin, v + 1)
                elif isinstance(f, GreaterThanOrEqual):
                    self.ymin = max(self.ymin, v)
                else:
                    yield f
            elif col == "z" and ok and isinstance(f, EqualTo):
                if v != self.zoom:
                    self.ymax = self.ymin - 1  # empty range
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        ny = self.ymax - self.ymin + 1
        nx = self.xmax - self.xmin + 1
        if ny <= 0 or nx <= 0:
            return [_Band(self.zoom, 0, -1, 0, -1)]
        bands = min(self.n_parts, ny)
        out = []
        for b in range(bands):
            lo = self.ymin + (ny * b) // bands
            hi = self.ymin + (ny * (b + 1)) // bands - 1
            out.append(_Band(self.zoom, self.xmin, self.xmax, lo, hi))
        return out

    def read(self, part: _Band):
        for y in range(part.ymin, part.ymax + 1):
            for x in range(part.xmin, part.xmax + 1):
                yield (part.zoom, x, y)


class SlippyTileStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the connector: the tile grid is fed as an
    incremental y-row feed — each micro-batch emits ``rowsPerBatch``
    tile rows (whole y stripes), the offset is the next unread y.
    Models the incremental-catalog-scan shape (a tile ingest emitting
    newly published stripes) on a source whose TOTAL content is
    closed-form, so an exactly-once replay can be value-hash gated:
    the union of all micro-batches must equal the batch grid, and
    ``readBetweenOffsets`` must reproduce any committed batch verbatim
    on recovery (Spark replays uncommitted ranges from it after a
    crash).  Offsets are tiny dicts; no driver state beyond them."""

    def __init__(self, options):
        _set_grid(self, options)
        self.rows_per_batch = max(1, int(options.get("rowsperbatch", 4)))

    def initialOffset(self) -> dict:  # noqa: N802
        return {"y": self.ymin}

    def _rows(self, y0: int, y1: int):
        # a LIST ITERATOR, not a generator and not a bare list: Spark's
        # prefetch wrapper both calls next() on it (empty-batch
        # validation) and PICKLES it into the planned partition —
        # generators aren't picklable, lists aren't iterators; iter(list)
        # is both.  A stripe is rows_per_batch × grid width — bounded by
        # the option, never the whole grid.
        return iter(
            [
                (self.zoom, x, y)
                for y in range(y0, y1 + 1)
                for x in range(self.xmin, self.xmax + 1)
            ]
        )

    def read(self, start: dict):
        y0 = int(start["y"])
        if y0 > self.ymax:  # exhausted: empty batch, offset unchanged
            return iter([]), start
        y1 = min(self.ymax, y0 + self.rows_per_batch - 1)
        return self._rows(y0, y1), {"y": y1 + 1}

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        return self._rows(int(start["y"]), int(end["y"]) - 1)

    def commit(self, end: dict) -> None:
        pass  # nothing external to acknowledge


class _Stripe(InputPartition):
    def __init__(self, zoom, xmin, xmax, y):
        self.zoom, self.xmin, self.xmax, self.y = zoom, xmin, xmax, y


class SlippyTilePartitionedStreamReader(DataSourceStreamReader):
    """The PARTITIONED streaming form (``DataSourceStreamReader``) —
    the scale path the Simple reader deliberately is not: offsets are
    planned on the driver (tiny dicts), but row GENERATION happens in
    ``read(partition)`` on the EXECUTORS, one task per y stripe, so a
    micro-batch's width parallelizes instead of being prefetched
    through the driver.  Same offset algebra as the simple reader
    (``{"y": next_unread}``); ``partitions(start, end)`` plans one
    :class:`_Stripe` per y row in the range.  Pick with the
    ``streamingMode=partitioned`` option; the catalog gates both forms
    against the same closed-form grid oracle."""

    def __init__(self, options):
        bounds = _set_grid(self, options)
        self.rows_per_batch = max(1, int(options.get("rowsperbatch", 4)))
        # opt-in DURABLE floor (option floordir=<checkpoint dir>):
        # commit(end) persists the committed frontier beside the
        # checkpoint, and a fresh post-restart reader loads it here —
        # closing the documented double-crash residual where a replayed
        # catch-up batch whose start predates the true frontier would
        # re-deliver committed stripes on a reader whose in-memory
        # floor reset to ymin.  Without the option, behavior is
        # unchanged (reader-local floor only).
        self._floor_dir = options.get("floordir")
        if self._floor_dir:
            import os

            os.makedirs(self._floor_dir, exist_ok=True)
            # Bind the floor to the query's checkpoint run id when the
            # caller provides one (option floorrunid, from
            # streaming.commit.ensure_run_id(checkpoint)): a FRESH query
            # (new/cleared checkpoint -> new run id) must NOT inherit a
            # stale floor for the same grid — it would silently never
            # deliver the old run's range.  A stale same-grid floor with
            # a different run id is ignored (full re-delivery is the
            # correct fresh-run behavior) and overwritten on the first
            # commit; a different GRID still refuses loudly (config
            # error, not a fresh run).
            self._floor_run = options.get("floorrunid")
            self._floor_key = {
                "zoom": self.zoom,
                "bounds": bounds,
                "run": self._floor_run,
            }
            st = read_state(self._floor_dir, _FLOOR_FILE)
            if st is not None:
                if (
                    st.get("zoom") != self.zoom
                    or st.get("bounds") != bounds
                ):
                    raise ValueError(
                        "slippy_tiles floordir holds a floor for a "
                        f"different grid ({st.get('zoom')}, "
                        f"{st.get('bounds')}) than this query "
                        f"({self.zoom}, {bounds}); use a fresh "
                        "checkpoint/floordir per grid."
                    )
                # honor the floor when the run ids match OR the stored
                # file predates the binding (no "run" key — legacy /
                # unbound writer): dropping a legacy floor on a
                # CONTINUING checkpoint would reopen exactly the
                # double-crash window it closes.  Only a file bound to
                # a DIFFERENT run id is stale-by-proof (fresh
                # checkpoint) and ignored; the next commit rebinds.
                if (
                    st.get("run") == self._floor_run
                    or st.get("run") is None
                ):
                    self._floor = max(self.ymin, int(st["y"]))

    def initialOffset(self) -> dict:  # noqa: N802
        return {"y": self.ymin}

    def latestOffset(self) -> dict:  # noqa: N802
        # advances a reader-local cursor.  The API gives latestOffset()
        # no previous-offset argument, so a fresh post-restart reader
        # cannot know the checkpointed frontier by itself.  Measured
        # call order (planner calls traced in both restart shapes): Spark
        # ALWAYS calls partitions() before the first latestOffset() on
        # a restarted reader — with (end_k, end_k) as a probe in the
        # committed case, with the replayed (s_k, e_k) range in the
        # uncommitted case — and partitions() fast-forwards the cursor
        # from those bounds, so in practice this method never returns
        # an offset below the checkpoint.  Should a Spark version ever
        # reorder those calls, two guards keep even that hypothetical
        # harmless: (a) the cursor/floor clamp here means only the
        # very first call could regress, and (b) partitions() clips
        # delivery below the observed frontier, so a batch planned
        # from a regressed offset re-delivers nothing.
        #
        # The former RESIDUAL GAP (a reader-local floor is not airtight
        # across TWO failures in that hypothetical reordered sequence:
        # a first restart logs a catch-up batch with start below the
        # true frontier, the driver crashes before it commits, and the
        # next restart replays it on a fresh reader whose floor reset
        # to ymin, re-delivering committed stripes) is CLOSED when the
        # ``floordir`` option is set: commit() persists the committed
        # frontier beside the checkpoint and __init__ reloads it, so
        # the replay's committed prefix is clipped even on a fresh
        # reader (test_latest_offset_regression_double_crash_gap proves
        # both the bare-reader residual and the floordir closure).
        cur = max(
            getattr(self, "_cur", self.ymin),
            getattr(self, "_floor", self.ymin),
        )
        nxt = min(self.ymax + 1, cur + self.rows_per_batch)
        self._cur = nxt
        return {"y": nxt}

    def partitions(self, start: dict, end: dict):
        y0, y1 = int(start["y"]), int(end["y"])
        # `floor` = the highest committed frontier this reader has
        # observed, learned from planned-batch STARTS.  Delivery is
        # clipped to it: after a committed-batch restart the first
        # latestOffset() regresses (see there), Spark logs that
        # regressed offset as a batch end, and the FOLLOWING batch's
        # range starts below the true frontier — without the clip it
        # would re-deliver stripes committed before the crash.
        #
        # Floor updates skip s==e calls: Spark probes the reader with
        # an empty (end_k, end_k) range while recovering an UNCOMMITTED
        # batch k, before replaying it as (s_k, e_k) — an empty range
        # carries no frontier information, and taking its start as
        # floor would clip the legitimate replay to nothing (a lost
        # stripe, caught by test_partitioned_stream_restart_end_to_end).
        # The regressed batch has s > e, a normal batch s < e; both
        # starts are true frontiers at plan time.  Within one run
        # starts are monotone, so the clip never bites.
        floor = getattr(self, "_floor", self.ymin)
        if y0 != y1:
            self._floor = max(floor, y0)
        self._cur = max(getattr(self, "_cur", self.ymin), y0, y1)
        return [
            _Stripe(self.zoom, self.xmin, self.xmax, y)
            for y in range(max(y0, floor), y1)
        ] or [_Stripe(self.zoom, 0, -1, 0)]  # empty batch: no rows

    def read(self, part: _Stripe):  # executor-side generation
        for x in range(part.xmin, part.xmax + 1):
            yield (part.zoom, x, part.y)

    def commit(self, end: dict) -> None:
        # Spark calls this once a batch up to `end` is durably committed
        # in the checkpoint — the one moment the COMMITTED frontier is
        # known exactly.  With floordir set, persist it atomically
        # (``commit.write_state``: tmp + rename) so a fresh post-restart
        # reader starts with the
        # committed frontier as its floor: a replayed catch-up batch
        # whose start predates it gets its committed stripes clipped in
        # partitions().  The persisted value can never exceed the
        # committed frontier, so the clip can never drop uncommitted
        # data; a crash between checkpoint commit and this call merely
        # leaves the floor one batch low (safe — commits are never
        # replayed).
        y = int(end["y"])
        self._floor = max(getattr(self, "_floor", self.ymin), y)
        if self._floor_dir:
            write_state(
                self._floor_dir, _FLOOR_FILE, {**self._floor_key, "y": self._floor}
            )


def register_tile_source(spark) -> None:
    """Idempotently register the connector on a session."""
    spark.dataSource.register(SlippyTileDataSource)


__all__ = [
    "SlippyTileDataSource",
    "SlippyTileReader",
    "SlippyTileStreamReader",
    "SlippyTilePartitionedStreamReader",
    "register_tile_source",
]
