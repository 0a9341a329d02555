"""Segmentation rasterization with an exact SQL oracle.

The rasterizer (raster.py) burns pixel centers under the even-odd scanline
rule; for an axis-aligned rectangle whose corners convert to integer pixel
coordinates ``a < b`` (x) and ``pa < pb`` (y), the burned area is exactly
``(b - a) * (pb - pa)`` — closed-form, so a query that rasterizes
*non-overlapping* rectangles can be checked value-for-value by DuckDB
replaying the pixel math (the same 4096→255 HALF_EVEN conversion as
reference label.py:90-96).

Rectangles are synthesized from events: up to 16 features per tile, each
in its own 1024×1024 slot of the 4096 extent (slot = per-tile row_number),
so no two features of a tile ever overlap and the REPLACE overwrite
(later class wins, reference label.py:36-54 burn order) is exercised
*within* a feature: a feature matching several classes is burned once per
class in index order, so its final pixels belong to its highest matching
class — the oracle's CASE picks the same class.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.filters import filter_sql
from label_maker_dask_spark.labels import segmentation_labels
from label_maker_dask_spark.queries_shared import (
    _GL_ORACLE_LOOKUP,
    _t,
    image_channel_sums,
    register,
)

# overlapping class filters so REPLACE order matters: k=95 matches all
# three and must rasterize as class 3
_SEG_CLASSES = [
    {"name": "has_k", "filter": ["has", "k"]},
    {"name": "k_50", "filter": [">=", "k", 50]},
    {"name": "k_90", "filter": [">=", "k", 90]},
]

_N_TILES = 50
_MAX_FEATS = 16


def _slot_coords_sql() -> dict[str, str]:
    return {
        "x0": "(slot % 4) * 1024 + 64 + (event_id % 5) * 3",
        "x1": "(slot % 4) * 1024 + 64 + (event_id % 5) * 3 + 640 + (event_id % 11) * 7",
        "y0": "(slot // 4) * 1024 + 96 + (event_id % 13) * 5",
        "y1": "(slot // 4) * 1024 + 96 + (event_id % 13) * 5 + 576 + (event_id % 17) * 9",
    }


def _seg_oracle() -> str:
    preds = [
        filter_sql(
            c["filter"],
            properties="props",
            geometry_type="'Polygon'",
            feature_id="event_id",
            map_lookup=_GL_ORACLE_LOOKUP,
        )
        for c in _SEG_CLASSES
    ]
    # later burns overwrite: the highest matching class index wins
    case = (
        f"CASE WHEN {preds[2]} THEN 3 WHEN {preds[1]} THEN 2 "
        f"WHEN {preds[0]} THEN 1 END"
    )
    c = _slot_coords_sql()
    px = "round_even({v} * 255.0 / 4096, 0)"
    area = (
        f"({px.format(v='x1')} - {px.format(v='x0')})"
        f" * ({px.format(v='y1')} - {px.format(v='y0')})"
    )
    return f"""
    WITH f AS (
      SELECT user_id % {_N_TILES} AS tile_id, event_id, props,
             row_number() OVER (PARTITION BY user_id % {_N_TILES}
                                ORDER BY event_id) - 1 AS slot
      FROM events),
    sel AS (SELECT tile_id, event_id, props, slot FROM f WHERE slot < {_MAX_FEATS}),
    cls AS (SELECT tile_id, event_id, slot, {case} AS class_id FROM sel),
    geom AS (SELECT tile_id, class_id,
                    {c['x0']} AS x0, {c['x1']} AS x1,
                    {c['y0']} AS y0, {c['y1']} AS y1
             FROM cls WHERE class_id IS NOT NULL)
    SELECT tile_id, class_id, CAST(sum({area}) AS BIGINT) AS n_pixels
    FROM geom GROUP BY tile_id, class_id
    """


def _synth_rect_features(spark, sf_dir):
    """Synthetic per-tile rectangle features from events (shared by the
    plain and buffered segmentation queries): up to 16 features per tile,
    each in its own 1024-unit slot so shapes never overlap across
    features — even after a ≤3-px dilation (margins ≥ 4 px)."""
    ev = _t(spark, sf_dir, "events")
    tile = (F.col("user_id") % _N_TILES).alias("tile_id")
    w = Window.partitionBy(F.col("user_id") % _N_TILES).orderBy("event_id")
    feats = (
        ev.select(
            tile,
            "event_id",
            "props",
            (F.row_number().over(w) - 1).alias("slot"),
        )
        .where(F.col("slot") < _MAX_FEATS)
    )
    x0 = (F.col("slot") % 4) * 1024 + 64 + (F.col("event_id") % 5) * 3
    x1 = x0 + 640 + (F.col("event_id") % 11) * 7
    y0 = (F.floor(F.col("slot") / 4) * 1024 + 96 + (F.col("event_id") % 13) * 5).cast("long")
    y1 = y0 + 576 + (F.col("event_id") % 17) * 9
    geometry = F.format_string(
        '{"type": "Polygon", "coordinates": '
        "[[[%d, %d], [%d, %d], [%d, %d], [%d, %d], [%d, %d]]]}",
        x0, y0, x1, y0, x1, y1, x0, y1, x0, y0,
    )
    return feats.select(
        "tile_id",
        F.col("event_id").alias("id"),
        F.lit("Polygon").alias("geometry_type"),
        F.from_json("props", "map<string,string>").alias("properties"),
        geometry.alias("geometry"),
    )


def _class_pixel_counts(rasters):
    """Per-(tile, class) burned-pixel counts decoded from the raster
    column — one narrow Arrow pass, zero-count classes dropped.

    Fully vectorized (no per-row Python): the batch's equal-length raster
    buffers stack into one (rows, pixels) matrix and a single offset
    ``bincount`` yields every row's per-class histogram at once — each
    row's values are shifted by ``row_index * width`` so the flat count
    lands in that row's slot block.  Output order (row-major over
    (tile, ascending class)) matches the old per-row loop exactly."""

    def count(batches):
        n_cls = len(_SEG_CLASSES)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(
                [np.frombuffer(b, dtype=np.uint8) for b in pdf["label"]]
            ).astype(np.int64)
            # slot width covers any stray value > n_cls without bleeding
            # into the next row's block
            width = max(n_cls + 1, int(mat.max()) + 1)
            offs = np.arange(len(pdf), dtype=np.int64)[:, None] * width
            bc = np.bincount(
                (mat + offs).ravel(), minlength=len(pdf) * width
            ).reshape(len(pdf), width)
            rows, cids = np.nonzero(bc[:, 1 : n_cls + 1])
            yield pd.DataFrame(
                {
                    "tile_id": pdf["tile_id"].to_numpy()[rows],
                    "class_id": (cids + 1).astype(np.int32),
                    "n_pixels": bc[rows, cids + 1],
                }
            )

    return rasters.mapInPandas(
        count, "tile_id long, class_id int, n_pixels long"
    )


@register("segmentation_raster_class_areas", _seg_oracle())
def segmentation_raster_class_areas(spark, sf_dir):
    """End-to-end segmentation rasterization (grouped-map applyInPandas +
    the numpy scanline rasterizer) over synthetic rectangle features, with
    per-(tile, class) burned-pixel counts as the oracle-checkable output.

    Scale: feature synthesis is narrow column math; the rasterize is one
    shuffle on the tile key (uniform 256×256 state per group, no skew);
    the count decode is a second narrow Arrow pass over the rasters."""
    feats = _synth_rect_features(spark, sf_dir)
    rasters = segmentation_labels(feats, _SEG_CLASSES, tile_cols=("tile_id",))
    return _class_pixel_counts(rasters)


# buffered variant: nested predicates + strictly descending buffers, so a
# feature matching several classes burns as concentric rings — REPLACE
# order with per-class dilation (reference label.py:49-52) is what the
# oracle replays in closed form
_SEG_BUFFERS = (3, 1, 0)
_SEG_CLASSES_BUF = [
    {**c, "buffer": b} for c, b in zip(_SEG_CLASSES, _SEG_BUFFERS)
]
# Q(b) = #{(i,j) : i,j >= 1, i²+j² <= b²} — corner cells of the lattice
# disk; dilated pixel count of a solid w×h rect is wh + 2b(w+h) + 4Q(b)
_Q = {3: 4, 1: 0, 0: 0}


def _seg_buffered_oracle() -> str:
    preds = [
        filter_sql(
            c["filter"],
            properties="props",
            geometry_type="'Polygon'",
            feature_id="event_id",
            map_lookup=_GL_ORACLE_LOOKUP,
        )
        for c in _SEG_CLASSES
    ]
    c = _slot_coords_sql()
    px = "round_even({v} * 255.0 / 4096, 0)"
    w = f"({px.format(v='x1')} - {px.format(v='x0')})"
    h = f"({px.format(v='y1')} - {px.format(v='y0')})"
    b1, b2, b3 = _SEG_BUFFERS

    def area(b: int) -> str:
        return f"(w * h + {2 * b} * (w + h) + {4 * _Q[b]})"

    # nested predicates (p3 ⇒ p2 ⇒ p1): the visible pixels of a class are
    # its dilated area minus the next matching class's dilated area
    ring1 = (
        f"CASE WHEN p2 THEN {area(b1)} - {area(b2)} ELSE {area(b1)} END"
    )
    ring2 = f"CASE WHEN p3 THEN {area(b2)} - {area(b3)} ELSE {area(b2)} END"
    ring3 = area(b3)
    return f"""
    WITH f AS (
      SELECT user_id % {_N_TILES} AS tile_id, event_id, props,
             row_number() OVER (PARTITION BY user_id % {_N_TILES}
                                ORDER BY event_id) - 1 AS slot
      FROM events),
    sel AS (SELECT tile_id, event_id, props, slot FROM f WHERE slot < {_MAX_FEATS}),
    geom AS (SELECT tile_id, event_id,
                    {preds[0]} AS p1, {preds[1]} AS p2, {preds[2]} AS p3,
                    {c['x0']} AS x0, {c['x1']} AS x1,
                    {c['y0']} AS y0, {c['y1']} AS y1
             FROM sel),
    dims AS (SELECT tile_id, event_id, p1, p2, p3,
                    {w} AS w, {h} AS h
             FROM geom),
    rings AS (
      SELECT tile_id, 1 AS class_id, {ring1} AS a FROM dims WHERE p1
      UNION ALL
      SELECT tile_id, 2, {ring2} FROM dims WHERE p2
      UNION ALL
      SELECT tile_id, 3, {ring3} FROM dims WHERE p3)
    SELECT tile_id, class_id, CAST(sum(a) AS BIGINT) AS n_pixels
    FROM rings GROUP BY tile_id, class_id
    """


# object-detection end-to-end: same synthetic features, but through
# labels.detection_labels (reference label.py:24-35) — a feature matching
# k classes emits k boxes (no overwrite), ordered by (feature id, class
# index).  Buffers are integer-valued floats so the tile-space expansion
# stays exactly representable and the HALF_EVEN pixel rounding replays
# bit-for-bit in DuckDB (round_even == Python round == Spark bround).
_DET_BUFFERS = (0.0, 2.0, 8.0)
_DET_CLASSES = [
    {**c, "buffer": b} for c, b in zip(_SEG_CLASSES, _DET_BUFFERS)
]


def _det_e2e_oracle() -> str:
    preds = [
        filter_sql(
            c["filter"],
            properties="props",
            geometry_type="'Polygon'",
            feature_id="event_id",
            map_lookup=_GL_ORACLE_LOOKUP,
        )
        for c in _SEG_CLASSES
    ]
    c = _slot_coords_sql()

    def box(cid: int, b: float) -> str:
        px = "CAST(round_even(({v}) * 255.0 / 4096, 0) AS INT)"
        x0 = px.format(v=f"({c['x0']}) - {b}")
        y0 = px.format(v=f"({c['y1']}) + {b}")  # ymax -> y-flip -> ymin
        x1 = px.format(v=f"({c['x1']}) + {b}")
        y1 = px.format(v=f"({c['y0']}) - {b}")  # ymin -> y-flip -> ymax
        cl = "greatest(0, least(255, {v}))"
        return (
            f"SELECT tile_id, event_id, {cid} AS class_id, "
            f"{cl.format(v=f'{x0} - 4')} AS xmin, "
            f"{cl.format(v=f'(255 - {y0}) - 4')} AS ymin, "
            f"{cl.format(v=f'{x1} + 4')} AS xmax, "
            f"{cl.format(v=f'(255 - {y1}) + 4')} AS ymax "
            f"FROM sel WHERE {preds[cid - 1]}"
        )

    parts = " UNION ALL ".join(
        box(i + 1, b) for i, b in enumerate(_DET_BUFFERS)
    )
    return f"""
    WITH f AS (
      SELECT user_id % {_N_TILES} AS tile_id, event_id, props,
             row_number() OVER (PARTITION BY user_id % {_N_TILES}
                                ORDER BY event_id) - 1 AS slot
      FROM events),
    sel AS (SELECT tile_id, event_id, props, slot FROM f
            WHERE slot < {_MAX_FEATS}),
    boxes AS ({parts})
    SELECT tile_id,
           CAST(row_number() OVER (PARTITION BY tile_id
                              ORDER BY event_id, class_id) - 1
                AS INT) AS box_idx,
           xmin, ymin, xmax, ymax, class_id
    FROM boxes
    """


@register("detection_labels_e2e", _det_e2e_oracle())
def detection_labels_e2e(spark, sf_dir):
    """Object-detection labels end-to-end (labels.detection_labels over
    synthetic rectangle features, reference label.py:24-35,122-131):
    per-tile box arrays with buffer-as-bounds-expansion, 4096→255
    HALF_EVEN conversion, y-flip, ±4 pad, clamp, and the reference's
    deterministic (feature id, class index) order — posexploded to one
    row per box so the oracle checks values AND order.

    Scale: feature synthesis is narrow column math, the label agg is one
    shuffle on the tile key, and every box is pure whole-stage-codegen
    column arithmetic — no UDF, no geometry library."""
    from label_maker_dask_spark.labels import detection_labels

    feats = _synth_rect_features(spark, sf_dir)
    labels = detection_labels(feats, _DET_CLASSES, tile_cols=("tile_id",))
    box = F.col("box")
    return labels.select(
        "tile_id", F.posexplode("label").alias("box_idx", "box")
    ).select(
        "tile_id",
        "box_idx",
        box["xmin"].alias("xmin"),
        box["ymin"].alias("ymin"),
        box["xmax"].alias("xmax"),
        box["ymax"].alias("ymax"),
        box["class"].alias("class_id"),
    )


@register("segmentation_buffered_ring_areas", _seg_buffered_oracle())
def segmentation_buffered_ring_areas(spark, sf_dir):
    """Buffered segmentation end-to-end WITHOUT a geometry library: each
    class dilates its burn by a per-class pixel radius (burn-then-morph,
    raster.morph_disk — the reference's shapely geo.buffer(d, 4) between
    clip and rasterize, label.py:49-52), and REPLACE order turns the
    nested classes into concentric rings.  For integer-pixel rectangles a
    disk dilation has the closed form wh + 2b(w+h) + 4Q(b), so DuckDB
    replays every ring area exactly."""
    feats = _synth_rect_features(spark, sf_dir)
    rasters = segmentation_labels(
        feats, _SEG_CLASSES_BUF, tile_cols=("tile_id",)
    )
    return _class_pixel_counts(rasters)


# --------------------------------------------------------------------------
# COG windowed-read gate: an engine-WRITTEN GeoTIFF (sources/tiff_write,
# tiled + deflate + predictor — the COG interior shape) read back through
# the from-scratch windowed reader (sources/tiff.py) per slippy tile.
#
# Geometry is chosen so the nearest-neighbor resample is FP-exact: the
# raster spans the full world at z=4 with width 4096, so sample column
# col(j) = x*256 + j + 0.5 before floor — every term an exact binary
# fraction (sx = 360/4096, tile width 22.5°), no boundary ulp risk.
# Pixel values depend only on (column, channel): value = (col*7 +
# ch*13) % 256.  Row sampling is still gated — a row mapped out of
# raster would zero-mask and break the sums (rasters span ±90°, slippy
# rows land in (14, 497) of 512) — but per-tile channel sums reduce to
# closed-form integer math DuckDB replays exactly.
# --------------------------------------------------------------------------

_COG_ZOOM = 4
_COG_XS = list(range(16))
_COG_YS = [0, 5, 8, 15]  # edge rows stress the top/bottom of the raster
_COG_FIXTURE: dict = {}


def _cog_fixture_bytes(epsg: int = 4326, tiled: bool = True) -> bytes:
    """Encode the synthetic world COG once per process (per CRS).  The
    bytes ship with the task closure (deflate + constant columns keep
    them tiny), so executors need no shared filesystem — on a real
    cluster the same entry runs unchanged; a production read swaps in
    HttpRangeSource.

    EPSG:3857 twin: the raster spans the full web-mercator square
    (±πR), so sample column (xs − origin)/sx is the SAME x*256 + j + 0.5
    ratio — the πR factor scales numerator and denominator alike, and
    the half-pixel margin absorbs the reprojection chain's ulps — while
    rows run through the ``_to_3857`` branch of read_tile."""
    key = (epsg, tiled)
    data = _COG_FIXTURE.get(key)
    if data is None:
        import math

        from label_maker_dask_spark.sources.tiff_write import write_geotiff

        cols = np.arange(4096)
        arr = np.zeros((512, 4096, 3), dtype=np.uint8)
        for ch in range(3):
            arr[:, :, ch] = ((cols * 7 + ch * 13) % 256)[None, :]
        if epsg == 4326:
            bounds = (-180.0, -90.0, 180.0, 90.0)
        else:
            b = math.pi * 6378137.0
            bounds = (-b, -b, b, b)
        data = write_geotiff(
            arr,
            bounds,
            tiled=tiled,
            compression=8,
            predictor=2,
            epsg=epsg,
        )
        _COG_FIXTURE[key] = data
    return data


def _cog_oracle() -> str:
    xs = ", ".join(map(str, _COG_XS))
    ys = ", ".join(map(str, _COG_YS))
    return f"""
    WITH tx AS (SELECT unnest([{xs}]) AS x),
    ty AS (SELECT unnest([{ys}]) AS y),
    j AS (SELECT unnest(generate_series(0, 255)) AS j),
    ch AS (SELECT unnest([0, 1, 2]) AS channel)
    SELECT CAST({_COG_ZOOM} AS INT) AS z, CAST(x AS INT) AS x,
           CAST(y AS INT) AS y, CAST(channel AS INT) AS channel,
           CAST(256 * sum(((x * 256 + j) * 7 + channel * 13) % 256)
                AS BIGINT) AS px_sum
    FROM tx, ty, j, ch
    GROUP BY x, y, channel
    """


@register("raster_cog_window_channel_sums", _cog_oracle())
def raster_cog_window_channel_sums(spark, sf_dir):
    """The COG read path under the cross-engine gate: write a synthetic
    world GeoTIFF with the engine's own sink (tiled 256px, deflate,
    horizontal predictor — sources/tiff_write), then read one 256×256
    window per slippy tile through the from-scratch reader
    (sources/tiff.py read_tile: georeferenced window → only intersecting
    internal tile COLUMNS decode → nearest-neighbor resample) on the
    executors, and emit per-(tile, channel) pixel sums the oracle
    replays in closed form.  This puts A11's TIFF machinery under the
    same value-hash gate the PNG path has via
    multimodal_image_channel_stats (reference reads COG via rio-tiler,
    utils.py:87-100).

    Scale shape: one task per tile partition, each decoding only its
    window's internal tiles through a process-cached open file — the
    same access pattern a 1000-executor tile fetch runs against remote
    COGs (HttpRangeSource swaps in for the local file)."""
    return _cog_channel_sums(spark, epsg=4326)


@register("raster_cog_window_channel_sums_3857", _cog_oracle())
def raster_cog_window_channel_sums_3857(spark, sf_dir):
    """The EPSG:3857 twin of raster_cog_window_channel_sums: the fixture
    raster spans the full web-mercator square, so every windowed read
    exercises the ``_to_3857`` reprojection branch of read_tile
    (sources/tiff.py — the WMS/projected-COG path, reference
    utils.py:72-100 via rio-tiler's mercator handling) while the oracle
    stays the same closed form: the πR factor scales sample positions
    and pixel size alike, leaving the exact x*256 + j + 0.5 column
    ratio."""
    return _cog_channel_sums(spark, epsg=3857)


@register("raster_geotiff_striped_channel_sums", _cog_oracle())
def raster_geotiff_striped_channel_sums(spark, sf_dir):
    """The STRIPED GeoTIFF layout twin: the same world raster written
    with row strips (RowsPerStrip) instead of internal tiles, read
    through read_tile's strip-decode branch (sources/tiff.py read_rows
    decodes only intersecting strips) under the identical closed-form
    oracle — so both physical layouts the from-scratch reader supports
    are cross-engine gated (reference reads both via rio-tiler,
    utils.py:55-62)."""
    return _cog_channel_sums(spark, epsg=4326, tiled=False)


# --------------------------------------------------------------------------
# WMS read path under the same gate: the PRODUCTION wms_image_fetcher
# (templated {bbox}, WMS 1.3.0 axis order, densified EPSG:3857
# reprojection — reference utils.py:65-95) driven against a strict
# hermetic GetMap "server" injected as http_get.  The server re-derives
# the slippy tile PURELY from the bbox in the request URL — so a wrong
# projection, a missed 1.3.0 y-first swap, or a mis-templated URL fails
# loudly instead of returning convenient pixels — and serves a 256×256
# engine-written GeoTIFF whose pixel values are the same closed-form
# column function the COG entries use.  One oracle (_cog_oracle) gates
# three transports: local COG window, striped GeoTIFF, and WMS GetMap.
# --------------------------------------------------------------------------

_WMS_TEMPLATE = (
    "https://wms.example/geoserver/wms?SERVICE=WMS&VERSION=1.3.0"
    "&REQUEST=GetMap&LAYERS=world&CRS=EPSG:3857&BBOX={bbox}"
    "&WIDTH=256&HEIGHT=256&FORMAT=image/geotiff"
)


def _parse_query_ci(url: str) -> dict:
    """Parse a request URL's query string with case-insensitive KEYS but
    values preserved verbatim — the production ``wms_image_fetcher``'s
    parsing contract.  Lowercasing the whole URL (the reference's
    pattern) would also fold parameter VALUES, silently passing a
    server that validates case-sensitive layers or tokens."""
    from urllib.parse import parse_qs, urlparse

    return {
        k.lower(): v for k, v in parse_qs(urlparse(url).query).items()
    }


def _wms_fixture_server(url: str) -> bytes:
    """Hermetic GetMap endpoint: parse the request's bbox (1.3.0 y-first,
    EPSG:3857 — the reference's unconditional swap, utils.py:87-90),
    recover which z=4 slippy tile it denotes, and render that tile's
    closed-form pixels as an engine-written GeoTIFF.  Tolerances are
    tight (1e-6 of a tile): the fetcher's whole job is producing THIS
    bbox, so anything off-grid is a bug, not noise."""
    import math

    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    q = _parse_query_ci(url)
    if (q.get("version") or [""])[0] != "1.3.0":
        raise ValueError(f"fixture server wants WMS 1.3.0, got url {url!r}")
    # CRS codes are case-insensitive by the WMS spec; only the VALUE's
    # case folds here — a layers/token param would be validated verbatim
    if (q.get("crs") or [""])[0].lower() != "epsg:3857":
        raise ValueError(f"fixture server wants EPSG:3857, got url {url!r}")
    vals = [float(v) for v in (q.get("bbox") or [""])[0].split(",")]
    ymin, xmin, ymax, xmax = vals  # 1.3.0: y-first
    half = math.pi * 6378137.0
    size = 2.0 * half / (1 << _COG_ZOOM)
    fx = (xmin + half) / size
    fy = (half - ymax) / size
    tx, ty = round(fx), round(fy)
    if (
        abs(fx - tx) > 1e-6
        or abs(fy - ty) > 1e-6
        or abs((xmax - xmin) / size - 1.0) > 1e-6
        or abs((ymax - ymin) / size - 1.0) > 1e-6
    ):
        raise ValueError(f"bbox {vals} is not a z={_COG_ZOOM} tile")
    cols = np.arange(tx * 256, tx * 256 + 256)
    arr = np.zeros((256, 256, 3), dtype=np.uint8)
    for ch in range(3):
        arr[:, :, ch] = ((cols * 7 + ch * 13) % 256)[None, :]
    return write_geotiff(
        arr,
        (xmin, ymin, xmax, ymax),
        tiled=True,
        compression=8,
        predictor=2,
        epsg=3857,
    )


@register("raster_wms_window_channel_sums", _cog_oracle())
def raster_wms_window_channel_sums(spark, sf_dir):
    """The WMS read path (A12) under the cross-engine value-hash gate:
    tiles flow through the PRODUCTION ``wms_image_fetcher`` — slippy
    tile → WGS84 bbox → densified EPSG:3857 envelope (sources/crs.py)
    → WMS 1.3.0 y-first axis order → templated ``{bbox}`` URL — against
    a strict fixture GetMap server that re-derives the tile from the
    request URL alone and serves engine-written GeoTIFF bytes, decoded
    executor-side by the from-scratch TIFF reader.  Any drift anywhere
    in the bbox chain makes the server refuse (red err cell) or the
    sums mismatch; the oracle is the same closed form as the COG
    entries (reference fetches WMS GetMap per tile, utils.py:65-95).

    Scale shape: identical to a production WMS ingest — one executor
    task per tile partition, each fetch independent (swap http_get for
    the default pooled-requests transport and the same plan runs
    against a live endpoint)."""
    from label_maker_dask_spark.sources.imagery import (
        fetch_images,
        wms_image_fetcher,
    )

    tiles = spark.createDataFrame(
        [(int(_COG_ZOOM), int(x), int(y)) for x in _COG_XS for y in _COG_YS],
        "z int, x long, y long",
    ).repartition(8)
    fetcher = wms_image_fetcher(_WMS_TEMPLATE, http_get=_wms_fixture_server)
    images = fetch_images(tiles, image_fetcher=fetcher)
    return image_channel_sums(images, _decode_geotiff_pixels)


def _decode_geotiff_pixels(blob: bytes):
    """Full-raster decode of a served 256x256 GeoTIFF (the WMS gates'
    executor-side decode step)."""
    from label_maker_dask_spark.sources.tiff import TiffFile

    return TiffFile(blob).read_rows(0, 256)


# --------------------------------------------------------------------------
# UTM WMS twin: the transverse-Mercator branch of sources/crs.py (the
# Karney–Krüger series) under the cross-engine gate, against an
# INDEPENDENT projection: the fixture server validates each requested
# bbox with the classic USGS Snyder (1987) forward TM series — a
# different derivation and different series coefficients, agreeing with
# Karney only if both are right (the two differ at the sub-mm level
# inside a zone; the server's tolerance is 1 m against ~20 km tiles).
# Also exercises the WMS 1.1.1 branch: srs= param, x-first bbox (no
# 1.3.0 axis swap).
# --------------------------------------------------------------------------

_WMS_UTM_ZOOM = 7
_WMS_UTM_XS = [68, 69, 70]          # 11.25°E .. 19.69°E around zone 33
_WMS_UTM_YS = [44, 45, 46, 47, 48, 49]  # ~38.8°N .. ~48.9°N

_WMS_UTM_TEMPLATE = (
    "https://wms.example/geoserver/wms?SERVICE=WMS&VERSION=1.1.1"
    "&REQUEST=GetMap&LAYERS=world&SRS=EPSG:32633&BBOX={bbox}"
    "&WIDTH=256&HEIGHT=256&FORMAT=image/geotiff"
)


def _snyder_utm33(lon: float, lat: float):
    """USGS Snyder (1987) forward transverse Mercator, UTM zone 33N —
    the INDEPENDENT twin of sources/crs.py's Karney–Krüger series
    (Map Projections: A Working Manual, eqs 8-9..8-15 + 3-21).  Exists
    only to referee the engine's projection in this fixture server;
    production code never calls it."""
    import math

    a, f = 6378137.0, 1.0 / 298.257223563
    e2 = f * (2.0 - f)
    ep2 = e2 / (1.0 - e2)
    k0, lon0 = 0.9996, 15.0
    phi = math.radians(lat)
    sin_p, cos_p, tan_p = math.sin(phi), math.cos(phi), math.tan(phi)
    n = a / math.sqrt(1.0 - e2 * sin_p * sin_p)
    t = tan_p * tan_p
    c = ep2 * cos_p * cos_p
    aa = math.radians(lon - lon0) * cos_p
    e4, e6 = e2 * e2, e2 * e2 * e2
    m = a * (
        (1 - e2 / 4 - 3 * e4 / 64 - 5 * e6 / 256) * phi
        - (3 * e2 / 8 + 3 * e4 / 32 + 45 * e6 / 1024) * math.sin(2 * phi)
        + (15 * e4 / 256 + 45 * e6 / 1024) * math.sin(4 * phi)
        - (35 * e6 / 3072) * math.sin(6 * phi)
    )
    x = k0 * n * (
        aa
        + (1 - t + c) * aa**3 / 6
        + (5 - 18 * t + t * t + 72 * c - 58 * ep2) * aa**5 / 120
    ) + 500_000.0
    y = k0 * (
        m
        + n * tan_p
        * (
            aa * aa / 2
            + (5 - t + 9 * c + 4 * c * c) * aa**4 / 24
            + (61 - 58 * t + t * t + 600 * c - 330 * ep2) * aa**6 / 720
        )
    )
    return x, y


def _snyder_envelope(z: int, x: int, y: int, densify_pts: int = 21):
    """The tile's densified UTM envelope under the SNYDER projection —
    the same edge-sampling contract as sources/crs.transform_bounds, so
    the only thing that can disagree with the engine's bbox is the
    projection math itself."""
    from label_maker_dask_spark.tiles import (
        tile_ul_lat_scalar,
        tile_ul_lng_scalar,
    )

    west = tile_ul_lng_scalar(x, z)
    east = tile_ul_lng_scalar(x + 1, z)
    north = tile_ul_lat_scalar(y, z)
    south = tile_ul_lat_scalar(y + 1, z)
    n = densify_pts + 1
    pts = []
    for i in range(n + 1):
        t = i / n
        lon = west + (east - west) * t
        lat = south + (north - south) * t
        pts.extend(
            [(lon, south), (lon, north), (west, lat), (east, lat)]
        )
    xs, ys = zip(*(_snyder_utm33(lon, lat) for lon, lat in pts))
    return min(xs), min(ys), max(xs), max(ys)


#: (tx, ty) -> Snyder envelope, computed once per process (the grid is
#: fixed; without the cache every GetMap re-projected all 18 candidate
#: envelopes — ~1.7k trig evaluations per request on the executor)
_SNYDER_ENVELOPES: dict = {}


def _snyder_envelopes() -> dict:
    if not _SNYDER_ENVELOPES:
        for tx in _WMS_UTM_XS:
            for ty in _WMS_UTM_YS:
                _SNYDER_ENVELOPES[(tx, ty)] = _snyder_envelope(
                    _WMS_UTM_ZOOM, tx, ty
                )
    return _SNYDER_ENVELOPES


def _wms_utm_fixture_server(url: str) -> bytes:
    """Hermetic UTM GetMap endpoint: parse the 1.1.1 x-first bbox and
    find WHICH candidate tile's Snyder envelope it matches within 1 m —
    a biased Karney series, a missed srs parse, or a wrongly-applied
    1.3.0 swap leaves no candidate and raises."""
    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    q = _parse_query_ci(url)
    if (q.get("version") or [""])[0] != "1.1.1":
        raise ValueError(f"fixture server wants WMS 1.1.1, got url {url!r}")
    if (q.get("srs") or [""])[0].lower() != "epsg:32633":
        raise ValueError(f"fixture server wants EPSG:32633, got {url!r}")
    got = [float(v) for v in (q.get("bbox") or [""])[0].split(",")]
    xmin, ymin, xmax, ymax = got  # 1.1.1: x-first, no axis swap
    hits = []
    for (tx, ty), exp in _snyder_envelopes().items():
        if all(abs(g - e) <= 1.0 for g, e in zip(got, exp)):
            hits.append((tx, ty))
    if len(hits) != 1:
        raise ValueError(
            f"bbox {got} matches {len(hits)} candidate tiles under the "
            "independent Snyder projection (want exactly 1) — the "
            "engine-side UTM bbox chain is off"
        )
    tx, _ = hits[0]
    cols = np.arange(tx * 256, tx * 256 + 256)
    arr = np.zeros((256, 256, 3), dtype=np.uint8)
    for ch in range(3):
        arr[:, :, ch] = ((cols * 7 + ch * 13) % 256)[None, :]
    return write_geotiff(
        arr,
        (xmin, ymin, xmax, ymax),
        tiled=True,
        compression=8,
        predictor=2,
        # self-consistent georeferencing: the bbox IS EPSG:32633, so tag
        # it that way — the sums decode ignores the tag today, but the
        # fixture must not bake a lie a future CRS-validating decode
        # would trip over (round-15 advice item)
        epsg=32633,
    )


def _wms_utm_oracle() -> str:
    xs = ", ".join(map(str, _WMS_UTM_XS))
    ys = ", ".join(map(str, _WMS_UTM_YS))
    return f"""
    WITH tx AS (SELECT unnest([{xs}]) AS x),
    ty AS (SELECT unnest([{ys}]) AS y),
    j AS (SELECT unnest(generate_series(0, 255)) AS j),
    ch AS (SELECT unnest([0, 1, 2]) AS channel)
    SELECT CAST({_WMS_UTM_ZOOM} AS INT) AS z, CAST(x AS INT) AS x,
           CAST(y AS INT) AS y, CAST(channel AS INT) AS channel,
           CAST(256 * sum(((x * 256 + j) * 7 + channel * 13) % 256)
                AS BIGINT) AS px_sum
    FROM tx, ty, j, ch
    GROUP BY x, y, channel
    """


@register("raster_wms_utm_window_channel_sums", _wms_utm_oracle())
def raster_wms_utm_window_channel_sums(spark, sf_dir):
    """The UTM (transverse-Mercator) WMS path under the cross-engine
    gate: 18 tiles around UTM zone 33 flow through the production
    ``wms_image_fetcher`` on its 1.1.1 branch (``srs=`` param, x-first
    bbox — no axis swap), with the bbox chain reprojected through the
    Karney–Krüger series (sources/crs.py).  The fixture server referees
    every bbox against an INDEPENDENT projection — the USGS Snyder
    forward TM series, a different derivation agreeing with Karney only
    if both are right — and serves closed-form pixels only on a unique
    1 m match, so a biased series coefficient, a missed ``srs`` parse,
    or a wrongly-applied axis swap is a loud red cell, not convenient
    pixels.  Completes A12's CRS coverage: 4326 identity, 3857 (1.3.0
    twin), and the UTM long tail are all value-hash gated.

    Scale shape: identical to the 3857 twin — one executor task per
    tile partition, projection resolved once at plan time."""
    from label_maker_dask_spark.sources.imagery import (
        fetch_images,
        wms_image_fetcher,
    )

    tiles = spark.createDataFrame(
        [
            (int(_WMS_UTM_ZOOM), int(x), int(y))
            for x in _WMS_UTM_XS
            for y in _WMS_UTM_YS
        ],
        "z int, x long, y long",
    ).repartition(6)
    fetcher = wms_image_fetcher(
        _WMS_UTM_TEMPLATE, http_get=_wms_utm_fixture_server
    )
    images = fetch_images(tiles, image_fetcher=fetcher)
    return image_channel_sums(images, _decode_geotiff_pixels)


# --------------------------------------------------------------------------
# TMS read path under the same gate (the LAST ungated source path after
# r14-r15 gated COG/striped/WMS/MVT/JPEG): the PRODUCTION
# ``tms_image_fetcher`` — ``{z}/{x}/{y}`` templating, ``{ACCESS_TOKEN}``
# resolved from the driver env at plan time (reference utils.py:130-140,
# 154-163 SafeDict semantics) — driven against a strict fixture tile
# server that re-derives the slippy tile from the request URL's PATH
# alone, validates the substituted token VERBATIM (case-sensitive), and
# serves engine-written PNG bytes decoded executor-side by the
# from-scratch PNG decoder.  One oracle (_cog_oracle) now gates four
# transports: COG window, striped GeoTIFF, WMS GetMap, and TMS GET.
# --------------------------------------------------------------------------

_TMS_TOKEN = "tk.Fixture-R16-cAsE"  # mixed case: a value-folding parse fails
_TMS_TEMPLATE = (
    "https://tiles.example/v4/world/{z}/{x}/{y}.png"
    "?access_token={ACCESS_TOKEN}"
)


def _tms_fixture_server(url: str) -> bytes:
    """Hermetic TMS endpoint: recover (z, x, y) from the path segments,
    demand the access token arrived substituted and UNFOLDED, and render
    the tile's closed-form pixels as an engine-written PNG.  A missed
    ``{z}/{x}/{y}`` substitution, a dropped/garbled token, or an
    off-grid tile raises — red err cell, never convenient pixels."""
    from urllib.parse import urlparse

    from label_maker_dask_spark.multimodal.png import encode_png

    if "{" in url:
        raise ValueError(f"unsubstituted template placeholder in {url!r}")
    u = urlparse(url)
    q = _parse_query_ci(url)
    if (q.get("access_token") or [""])[0] != _TMS_TOKEN:
        raise ValueError(
            f"fixture server wants the exact ACCESS_TOKEN, got url {url!r}"
        )
    parts = u.path.rsplit("/", 3)
    if len(parts) != 4 or not parts[3].endswith(".png"):
        raise ValueError(f"not a {{z}}/{{x}}/{{y}}.png path: {u.path!r}")
    z, x, y = int(parts[1]), int(parts[2]), int(parts[3][: -len(".png")])
    if z != _COG_ZOOM or x not in _COG_XS or y not in _COG_YS:
        raise ValueError(f"tile ({z},{x},{y}) is off the fixture grid")
    cols = np.arange(x * 256, x * 256 + 256)
    arr = np.zeros((256, 256, 3), dtype=np.uint8)
    for ch in range(3):
        arr[:, :, ch] = ((cols * 7 + ch * 13) % 256)[None, :]
    return encode_png(arr)


def _decode_png_pixels(blob: bytes):
    from label_maker_dask_spark.multimodal.png import decode_png

    return decode_png(bytes(blob))


@register("raster_tms_window_channel_sums", _cog_oracle())
def raster_tms_window_channel_sums(spark, sf_dir):
    """The TMS read path (A10) under the cross-engine value-hash gate —
    the last source transport verified only by hermetic pytest until
    round 16.  Tiles flow through the PRODUCTION ``tms_image_fetcher``:
    ``{ACCESS_TOKEN}`` resolves from the driver env at plan time (the
    reference's SafeDict passthrough, utils.py:130-140, but baked into
    the closure — executors don't inherit driver env on a real
    cluster), ``{z}/{x}/{y}`` template per tile, injected transport.
    The fixture server re-derives the tile from the URL path alone and
    validates the token VERBATIM — so a templating drift, a dropped
    token, or a case-folding parse goes red — then serves PNG bytes
    written by the engine's own encoder, decoded executor-side by the
    from-scratch decoder (a codec round trip like the MVT gate).  The
    oracle is the same closed form as the COG/WMS entries.

    Scale shape: one executor task per tile partition, each fetch
    independent; swap http_get for the default pooled-requests session
    and the same plan runs against a live XYZ endpoint."""
    from label_maker_dask_spark.sources.imagery import (
        fetch_images,
        tms_image_fetcher,
    )

    tiles = spark.createDataFrame(
        [(int(_COG_ZOOM), int(x), int(y)) for x in _COG_XS for y in _COG_YS],
        "z int, x long, y long",
    ).repartition(8)
    prev = os.environ.get("ACCESS_TOKEN")
    os.environ["ACCESS_TOKEN"] = _TMS_TOKEN
    try:
        # plan-time resolution: the token bakes into the fetcher closure
        # here, so restoring the env before the action proves no
        # fetch-time env read survives
        fetcher = tms_image_fetcher(_TMS_TEMPLATE, http_get=_tms_fixture_server)
    finally:
        if prev is None:
            del os.environ["ACCESS_TOKEN"]
        else:
            os.environ["ACCESS_TOKEN"] = prev
    images = fetch_images(tiles, image_fetcher=fetcher)
    return image_channel_sums(images, _decode_png_pixels)


def _cog_channel_sums(spark, epsg: int, tiled: bool = True):
    tiles = spark.createDataFrame(
        [(int(_COG_ZOOM), int(x), int(y)) for x in _COG_XS for y in _COG_YS],
        "z int, x int, y int",
    ).repartition(8)
    data = _cog_fixture_bytes(epsg, tiled)

    def sums(batches):
        from label_maker_dask_spark.sources.tiff import (
            TiffFile,
            read_tile,
        )

        tif = TiffFile(data)
        for pdf in batches:
            out = []
            for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"]):
                px = read_tile(tif, int(z), int(x), int(y))
                for ch in range(px.shape[2]):
                    out.append(
                        (
                            int(z),
                            int(x),
                            int(y),
                            ch,
                            int(px[:, :, ch].astype(np.int64).sum()),
                        )
                    )
            if out:
                yield pd.DataFrame(
                    out, columns=["z", "x", "y", "channel", "px_sum"]
                )

    return tiles.mapInPandas(
        sums, "z int, x int, y int, channel int, px_sum long"
    )


# --------------------------------------------------------------------------
# MVT round-trip gate: tiles ENCODED by the engine's vector-tile writer
# (sources/mvt_write — from-scratch protobuf wire format) and decoded by
# the from-scratch decoder (sources/mvt.py) through the REAL feature
# pipeline (decoding_tile_fetcher -> fetch_features mapInPandas).  Per
# tile the synthetic features are pure integer functions of (x, y), so
# DuckDB replays the expected ids, property values, and decoded
# (y-flipped) coordinate sums in closed form — any drift in varint /
# zigzag / command assembly / tag resolution / ring closure breaks the
# value hash.  This is A2's decoder under the cross-engine gate the way
# raster_cog_window_channel_sums gates A11's TIFF reader.
# --------------------------------------------------------------------------

_MVT_ZOOM = 6
_MVT_RANGE = list(range(20, 28))  # 8x8 tile block


def _mvt_synth_features(x: int, y: int) -> list:
    """Deterministic per-tile features (raw y-down tile coords)."""
    feats = []
    npts = 1 + (x * 31 + y * 17) % 5
    for j in range(npts):
        feats.append(
            {
                "id": (x * 64 + y) * 100 + j,
                "geometry": {
                    "type": "Point",
                    "coordinates": [
                        (x * 37 + j * 91) % 4096,
                        (y * 53 + j * 71) % 4096,
                    ],
                },
                "properties": {
                    "k": (x * 7 + y * 3 + j * 5) % 100,
                    "name": f"c{(x + y + j) % 7}",
                },
            }
        )
    lx, ly = (x * 11) % 2048, (y * 13) % 2048
    feats.append(
        {
            "id": 9000000 + x * 64 + y,
            "geometry": {
                "type": "LineString",
                "coordinates": [
                    [lx, ly],
                    [lx + 512, ly + 256],
                    [lx + 1024, ly],
                ],
            },
            "properties": {"k": (x + y) % 100},
        }
    )
    sx0, sy0 = (x * 19) % 3000, (y * 23) % 3000
    s = 100 + (x + y) % 50
    feats.append(
        {
            "id": 9500000 + x * 64 + y,
            "geometry": {
                "type": "Polygon",
                "coordinates": [
                    [
                        [sx0, sy0],
                        [sx0 + s, sy0],
                        [sx0 + s, sy0 + s],
                        [sx0, sy0 + s],
                        [sx0, sy0],
                    ]
                ],
            },
            "properties": {"k": (x * y) % 100},
        }
    )
    return feats


def _mvt_synth_bytes(z: int, x: int, y: int) -> bytes:
    from label_maker_dask_spark.sources.mvt_write import encode_mvt

    return encode_mvt({"osm": _mvt_synth_features(x, y)})


def _mvt_roundtrip_oracle() -> str:
    rng = ", ".join(map(str, _MVT_RANGE))
    return f"""
    WITH g AS (
      SELECT gx.x, gy.y
      FROM (SELECT unnest([{rng}]) AS x) gx,
           (SELECT unnest([{rng}]) AS y) gy),
    pts AS (
      SELECT x, y, unnest(generate_series(0, (x*31 + y*17) % 5)) AS j
      FROM g),
    point_rows AS (
      SELECT x, y, 'Point' AS geometry_type,
             (x*64 + y)*100 + j AS id,
             (x*7 + y*3 + j*5) % 100 AS k,
             ((x*37 + j*91) % 4096) + 4096 - ((y*53 + j*71) % 4096) AS csum
      FROM pts),
    line_rows AS (
      SELECT x, y, 'LineString' AS geometry_type,
             9000000 + x*64 + y AS id,
             (x + y) % 100 AS k,
             3*((x*11) % 2048) + 1536
               + 3*4096 - 3*((y*13) % 2048) - 256 AS csum
      FROM g),
    poly_rows AS (
      SELECT x, y, 'Polygon' AS geometry_type,
             9500000 + x*64 + y AS id,
             (x * y) % 100 AS k,
             5*((x*19) % 3000) + 2*(100 + (x + y) % 50)
               + 5*4096 - 5*((y*23) % 3000) - 2*(100 + (x + y) % 50) AS csum
      FROM g),
    allrows AS (
      SELECT * FROM point_rows UNION ALL
      SELECT * FROM line_rows UNION ALL
      SELECT * FROM poly_rows)
    SELECT CAST({_MVT_ZOOM} AS INT) AS z, CAST(x AS BIGINT) AS x,
           CAST(y AS BIGINT) AS y, geometry_type,
           CAST(count(*) AS BIGINT) AS n_features,
           CAST(sum(id) AS BIGINT) AS sum_id,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(sum(csum) AS BIGINT) AS coord_sum
    FROM allrows
    GROUP BY x, y, geometry_type
    """


@register("mvt_roundtrip_feature_stats", _mvt_roundtrip_oracle())
def mvt_roundtrip_feature_stats(spark, sf_dir):
    """Vector-tile encode→decode round trip under the value-hash gate:
    synthetic per-tile features encode through the engine's MVT writer
    and decode through the production pipeline (sources/mvt.py decoder
    inside decoding_tile_fetcher → fetch_features mapInPandas, the A2/A3
    path, reference main.py:41 + label.py:13), then aggregate per
    (tile, geometry type): feature count, id sum, property-k sum, and
    the decoded coordinate sum (default y-UP flip, polygon rings closed
    with the duplicated first vertex — both conventions the oracle
    replays in closed form).

    Scale shape: one executor task per tile partition, encode+decode
    both pure-Python-over-bytes per tile (no driver involvement), and
    the aggregate is a narrow groupBy on the tile key."""
    from label_maker_dask_spark.sources.vector_tiles import (
        decoding_tile_fetcher,
        fetch_features,
    )

    tiles = spark.createDataFrame(
        [(int(_MVT_ZOOM), int(x), int(y)) for x in _MVT_RANGE for y in _MVT_RANGE],
        "z int, x long, y long",
    ).repartition(8)
    feats = fetch_features(
        tiles, tile_fetcher=decoding_tile_fetcher(_mvt_synth_bytes)
    )
    nums = F.filter(
        F.split(F.regexp_replace("geometry", "[^0-9,]", ""), ","),
        lambda s: s != "",
    )
    coord_sum = F.aggregate(
        F.transform(nums, lambda s: s.cast("long")),
        F.lit(0).cast("long"),
        lambda a, b: a + b,
    )
    return (
        feats.select(
            "z",
            "x",
            "y",
            "geometry_type",
            "id",
            F.col("properties")["k"].cast("long").alias("k"),
            coord_sum.alias("csum"),
        )
        .groupBy("z", "x", "y", "geometry_type")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("id").alias("sum_id"),
            F.sum("k").alias("sum_k"),
            F.sum("csum").alias("coord_sum"),
        )
    )
