"""Pixel-space conversion math from the reference, as Column expressions
(plus one scalar twin, :func:`pixel_bbox`, for Python workers).

Reference semantics (label.py:60-96):

- ``_pixel_bounds_convert``: ``round(v * 255 / 4096)``; odd tuple index means
  a y coordinate, which is flipped to ``255 - px`` (label.py:188-194).
  Python's ``round`` is banker's rounding (HALF_EVEN), so we use ``bround``,
  not ``round`` (Spark's ``round`` is HALF_UP — a subtle off-by-one on exact
  .5 ties otherwise).
- ``_pixel_bbox``: reorder bounds ``[xmin, ymax, xmax, ymin]`` so the y-flip
  produces ``[xmin', ymin', xmax', ymax']`` in pixel space, then pad
  (label.py:166-173).
- ``_buffer_bbox``: pad ±4 px then clamp (label.py:176-180).
- ``_clamp``: restrict to [0, 255] (label.py:183-185).

The Column forms are pure column arithmetic and run inside whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

EXTENT = 4096  # mapbox-vector-tile default tile extent
TILE_PX = 255  # output pixel space is 0..255 (256x256 imagery)


def pixel_convert(v: Column, flip: bool = False) -> Column:
    """0-4096 tile coordinate -> 0-255 pixel; ``flip`` applies the y-axis
    inversion (label.py:188-194).  HALF_EVEN rounding for Python parity."""
    px = F.bround(v * TILE_PX / EXTENT).cast("int")
    return (F.lit(TILE_PX) - px) if flip else px


def clamp(v: Column, lo: int = 0, hi: int = TILE_PX) -> Column:
    """max(lo, min(hi, v)) (label.py:183-185)."""
    return F.greatest(F.lit(lo), F.least(F.lit(hi), v))


def pixel_bbox_cols(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column, pad: int = 4
) -> list[Column]:
    """Tile-space bounds -> padded, clamped pixel bbox ``[x0, y0, x1, y1]``.

    Mirrors label.py:166-180: the y-flip swaps which input bound becomes the
    pixel-space min/max (ymax -> y0, ymin -> y1), then ±pad, then clamp.
    """
    x0 = pixel_convert(xmin)
    y0 = pixel_convert(ymax, flip=True)
    x1 = pixel_convert(xmax)
    y1 = pixel_convert(ymin, flip=True)
    return [
        clamp(x0 - pad),
        clamp(y0 - pad),
        clamp(x1 + pad),
        clamp(y1 + pad),
    ]


def pixel_bbox(xmin, ymin, xmax, ymax, pad: int = 4) -> list[int]:
    """Scalar twin of :func:`pixel_bbox_cols` for Python workers: the same
    HALF_EVEN conversion (Python's ``round``), y-flip, ±pad and clamp.

    A ``None`` bound (a geometry with no coordinate pairs) gives
    ``TILE_PX``, as the Column form does: Spark's ``least`` and
    ``greatest`` skip nulls, so the clamp of a null is ``TILE_PX``.
    """

    def px(v, flip=False):
        if v is None:
            return None
        p = round(v * TILE_PX / EXTENT)
        return TILE_PX - p if flip else p

    def padded(v, d):
        return TILE_PX if v is None else max(0, min(TILE_PX, v + d))

    return [
        padded(px(xmin), -pad),
        padded(px(ymax, flip=True), -pad),
        padded(px(xmax), pad),
        padded(px(ymin, flip=True), pad),
    ]
