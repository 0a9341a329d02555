"""Distributed slippy-map tile source.

The reference enumerates tiles *eagerly on the driver* via
``list(mercantile.tiles(*bounds, [zoom]))`` (reference main.py:89) — an
O(#tiles) Python list that becomes the scalability ceiling.  Here the tile
range is computed as four integers at plan time (pure math, O(1)) and the
tile set is generated **distributed** with ``spark.range`` + arithmetic
columns: no driver materialization, no UDF, fully codegen'd.

Tile math is the public slippy-map / Web Mercator formula set
(https://wiki.openstreetmap.org/wiki/Slippy_map_tilenames), matching
mercantile's conventions: latitudes clamped to ±85.051129, the east/south
bbox edge nudged inward by a small epsilon so a bbox ending exactly on a
tile boundary does not include the next tile row/column.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Valid Web Mercator latitude span and the bbox edge nudge (same values
# mercantile uses, derived from the projection's definition).
MAX_LAT = 85.051129
LL_EPSILON = 1.0e-11


def lnglat_to_tile(lng: float, lat: float, zoom: int) -> Tuple[int, int]:
    """(lng, lat) -> (xtile, ytile) at ``zoom``; driver-side scalar math."""
    z2 = 1 << zoom
    x_frac = lng / 360.0 + 0.5
    sinlat = math.sin(math.radians(lat))
    try:
        y_frac = 0.5 - 0.25 * math.log((1.0 + sinlat) / (1.0 - sinlat)) / math.pi
    except (ValueError, ZeroDivisionError):
        y_frac = 0.0 if lat > 0 else 1.0
    x = min(z2 - 1, max(0, math.floor(x_frac * z2)))
    y = min(z2 - 1, max(0, math.floor(y_frac * z2)))
    return int(x), int(y)


def tile_range(
    bounds: Sequence[float], zoom: int
) -> Tuple[int, int, int, int]:
    """Inclusive (xmin, ymin, xmax, ymax) tile-index range for a WGS84
    ``[west, south, east, north]`` bbox."""
    west, south, east, north = bounds
    if west > east or south > north:
        raise ValueError(
            f"invalid bounds {list(bounds)}: expected [west, south, east, north] "
            "with west <= east and south <= north (split antimeridian-crossing "
            "boxes into two jobs)"
        )
    west = max(-180.0, west)
    south = max(-MAX_LAT, south)
    east = min(180.0, east)
    north = min(MAX_LAT, north)
    xmin, ymin = lnglat_to_tile(west, north, zoom)
    xmax, ymax = lnglat_to_tile(east - LL_EPSILON, south + LL_EPSILON, zoom)
    return xmin, ymin, xmax, ymax


def n_tiles(bounds: Sequence[float], zoom: int) -> int:
    """Exact tile count without any scan (replaces reference main.py:101-107,
    which required the driver-side list to exist)."""
    xmin, ymin, xmax, ymax = tile_range(bounds, zoom)
    return (xmax - xmin + 1) * (ymax - ymin + 1)


def tiles_df(spark: SparkSession, bounds: Sequence[float], zoom: int) -> DataFrame:
    """All tiles intersecting ``bounds`` at ``zoom`` as ``(z, x, y)`` rows.

    Generated from ``spark.range`` so a continent-scale bbox at z15 (millions
    of tiles) parallelizes across executors instead of materializing on the
    driver (contrast reference main.py:89).
    """
    xmin, ymin, xmax, ymax = tile_range(bounds, zoom)
    nx = xmax - xmin + 1
    ny = ymax - ymin + 1
    return spark.range(nx * ny).select(
        F.lit(zoom).cast("int").alias("z"),
        (F.lit(xmin) + (F.col("id") % nx)).cast("long").alias("x"),
        (F.lit(ymin) + (F.col("id") / nx).cast("long")).cast("long").alias("y"),
    )


# tiles per frame a tile scan yields: 64 rasters are 4 MB and 64 images of
# 196 KB are 12.5 MB, where one frame per 10k-row input Arrow batch would be
# about 655 MB of rasters or 1.96 GB of images, near the 2 GiB that one
# Arrow ``binary`` column can hold
SCAN_CHUNK_TILES = 64


def tile_chunks(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The tile-key frames a ``mapInPandas`` scan receives, cut into
    frames of at most ``SCAN_CHUNK_TILES`` rows, in input order, so each
    output frame the scan builds from one chunk stays bounded whatever
    the size of the input Arrow batch."""
    for pdf in batches:
        for start in range(0, len(pdf), SCAN_CHUNK_TILES):
            yield pdf.iloc[start:start + SCAN_CHUNK_TILES]


def tile_ul_lng_scalar(x: float, z: int) -> float:
    """Driver/worker-side scalar: longitude of a tile's upper-left corner."""
    return x / float(1 << z) * 360.0 - 180.0


def tile_ul_lat_scalar(y: float, z: int) -> float:
    """Driver/worker-side scalar: latitude of a tile's upper-left corner."""
    n = math.pi - 2.0 * math.pi * y / float(1 << z)
    return math.degrees(math.atan(math.sinh(n)))


def lnglat_to_tile_cols(lng: Column, lat: Column, zoom: int) -> Column:
    """``struct(x, y)``: the tile containing a point at ``zoom`` — the
    Column twin of :func:`lnglat_to_tile` (same sinlat formulation,
    term-for-term, so the scalar, the expression, and a SQL oracle all
    agree bit-for-bit).  Pure built-in math, no UDF: point→tile spatial
    binning runs inside whole-stage codegen at any volume."""
    z2 = float(1 << zoom)
    x_frac = lng / 360.0 + 0.5
    sinlat = F.sin(F.radians(lat))
    y_frac = (
        F.lit(0.5)
        - F.lit(0.25) * F.log((1.0 + sinlat) / (1.0 - sinlat)) / math.pi
    )
    x = F.least(F.lit(z2 - 1), F.greatest(F.lit(0.0), F.floor(x_frac * z2)))
    y = F.least(F.lit(z2 - 1), F.greatest(F.lit(0.0), F.floor(y_frac * z2)))
    return F.struct(x.cast("int").alias("x"), y.cast("int").alias("y"))
