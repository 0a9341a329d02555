"""Label derivation operators — the core of the reference pipeline
(reference label.py:10-57) re-expressed as Spark plans.

Three ml_types (reference main.py:56-62):

- classification: per tile, a ``len(classes)+1`` int vector of class-presence
  flags, slot 0 = background (label.py:15-23).  Here: a hash aggregate of
  boolean-exists per class — one shuffle, map-side partial agg, codegen'd.
- object-detection: per tile, an array of ``(xmin, ymin, xmax, ymax, class)``
  pixel boxes (label.py:24-35).  Here: pure column math (bounds extraction,
  scale, y-flip, pad, clamp) + ``collect_list`` — no Python in the hot path.
- segmentation: per tile, a 256x256 uint8 class-id raster (label.py:36-54).
  Here: one numpy-rasterizer kernel per tile (``burn_tile``, the one
  genuinely imperative operator) behind two entry points.  The job path,
  ``segmentation_tile_labels``, fetches and burns each tile inside one
  ``mapInPandas`` over the tile frame — the reference's one-task-per-tile
  shape (main.py:20-63), with no feature shuffle and no join.  The frame
  path, ``segmentation_labels``, burns an existing feature frame with a
  grouped-map ``applyInPandas`` over the tile key.

Error tolerance (reference main.py:42-44, label.py:55-57): a tile with no
features must still produce its empty label.  Pass the ``tiles`` frame and
each feature-frame operator left-joins it, filling the per-ml_type empty
label; the segmentation tile scan emits one row per tile by construction.

Known reference bug deliberately NOT replicated: label.py:42-44 mutates
``feat["geometry"]["coordinates"]`` in place, double-converting features that
match two classes.  We convert each feature's coordinates exactly once.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from label_maker_dask_spark.filters import compile_filter
from label_maker_dask_spark.functions.pixel import (
    EXTENT,
    TILE_PX,
    clamp,
    pixel_bbox_cols,
)
from label_maker_dask_spark.raster import rasterize
from label_maker_dask_spark.sources.vector_tiles import (
    TileFetcher,
    tile_fetcher_factory,
)

TILE_COLS = ("z", "x", "y")

# innermost GeoJSON coordinate pairs "[x, y]" — lets us take geometry bounds
# with a vectorized regexp instead of parsing ragged nested arrays (the
# coordinate nesting is recursively ragged, reference label.py:158-163)
_NUM = r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
_PAIR_RE = r"\[\s*" + _NUM + r"\s*,\s*" + _NUM + r"\s*[\],]"


def class_predicates(classes: Sequence[dict]) -> list[Column]:
    """One compiled Catalyst predicate per class config dict
    (``{"name":…, "filter": <GL filter>, "buffer": float?}``,
    reference main.py:73)."""
    return [compile_filter(c.get("filter")) for c in classes]


def _norm_classes(classes: Sequence[dict]) -> list[dict]:
    out = []
    for c in classes:
        c = dict(c)
        if isinstance(c.get("filter"), str):
            c["filter"] = json.loads(c["filter"])
        out.append(c)
    return out


def geometry_bounds(geometry: Column) -> Column:
    """``struct(xmin, ymin, xmax, ymax)`` of a GeoJSON geometry string in
    tile-local coordinates — regexp + array min/max, fully JVM-side (the
    Spark analogue of ``shape(geom).bounds`` at reference label.py:128-131).
    """
    xs = F.transform(
        F.regexp_extract_all(geometry, F.lit(_PAIR_RE), 1),
        lambda s: s.cast("double"),
    )
    ys = F.transform(
        F.regexp_extract_all(geometry, F.lit(_PAIR_RE), 2),
        lambda s: s.cast("double"),
    )
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def classification_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
) -> DataFrame:
    """Per-tile class-presence vector (reference label.py:15-23).

    ``label[i+1] = 1`` iff any feature passes class i's filter;
    ``label[0] = 1`` iff every other slot is 0 (background activation,
    label.py:119-120).  Tiles absent from ``features`` (or present in
    ``tiles`` only) get the empty label ``[1, 0, …]`` (label.py:197-202).
    """
    classes = _norm_classes(classes)
    if not classes:
        # zero classes: every tile is background-only (reference label.py:
        # 114-121 with an empty loop -> [1])
        base = tiles if tiles is not None else features
        return base.select(*tile_cols).distinct().select(
            *tile_cols, F.array(F.lit(1)).alias("label")
        )
    preds = class_predicates(classes)
    flags = [
        F.max(F.when(p, 1).otherwise(0)).alias(f"_c{i}")
        for i, p in enumerate(preds)
    ]
    agg = features.groupBy(*[F.col(c) for c in tile_cols]).agg(*flags)
    if tiles is not None:
        agg = tiles.select(*tile_cols).join(agg, list(tile_cols), "left")
    filled = [
        F.coalesce(F.col(f"_c{i}"), F.lit(0)) for i in range(len(classes))
    ]
    total = sum(filled, F.lit(0))
    background = F.when(total == 0, 1).otherwise(0)
    return agg.select(
        *tile_cols,
        F.array(background, *filled).alias("label"),
    )


def detection_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
    order_col: str = "id",
) -> DataFrame:
    """Per-tile array of pixel bounding boxes (reference label.py:24-35).

    Per feature x matching class: geometry bounds, optional buffer expansion,
    0-4096 -> 0-255 conversion with y-flip, ±4 px pad, clamp, class id
    ``i+1`` (label.py:122-131, 166-194).  A feature matching k classes emits
    k boxes.  Output order is deterministic: by ``order_col`` within the
    tile, then class index — the reference's iteration order.

    Buffer note: the reference buffers the *geometry* then takes its bounds
    (label.py:129-131); a round-cap buffer of distance d expands the bounds
    by exactly d on each side, so we apply the expansion directly to the
    bounds — same result, no geometry library.
    """
    classes = _norm_classes(classes)
    empty = F.array().cast(
        "array<struct<xmin:int,ymin:int,xmax:int,ymax:int,class:int>>"
    )
    if not classes:
        base = tiles if tiles is not None else features
        return base.select(*tile_cols).distinct().select(
            *tile_cols, empty.alias("label")
        )
    preds = class_predicates(classes)
    b = geometry_bounds(F.col("geometry"))
    per_class = []
    for i, (cl, pred) in enumerate(zip(classes, preds)):
        buf = float(cl.get("buffer") or 0.0)
        x0, y0, x1, y1 = pixel_bbox_cols(
            b["xmin"] - buf, b["ymin"] - buf, b["xmax"] + buf, b["ymax"] + buf
        )
        box = F.struct(
            x0.alias("xmin"),
            y0.alias("ymin"),
            x1.alias("xmax"),
            y1.alias("ymax"),
            F.lit(i + 1).alias("class"),
        )
        per_class.append(F.when(pred, box))
    boxes = F.filter(F.array(*per_class), lambda s: s.isNotNull())
    per_feature = features.select(
        *tile_cols,
        F.col(order_col).alias("_ord"),
        boxes.alias("_boxes"),
    )
    if tiles is not None:
        # non-matching features can be dropped pre-shuffle: the left join
        # below restores their tiles with the empty label
        per_feature = per_feature.where(F.size("_boxes") > 0)
    # with tiles=None every tile that HAS features must still emit a row
    # (empty label) — same contract as classification's background row
    agg = per_feature.groupBy(*tile_cols).agg(
        F.array_sort(F.collect_list(F.struct("_ord", "_boxes"))).alias("_fb")
    )
    label = F.flatten(F.transform(F.col("_fb"), lambda s: s["_boxes"]))
    out = agg.select(*tile_cols, label.alias("label"))
    if tiles is not None:
        empty = F.array().cast(
            "array<struct<xmin:int,ymin:int,xmax:int,ymax:int,class:int>>"
        )
        out = (
            tiles.select(*tile_cols)
            .join(out, list(tile_cols), "left")
            .select(*tile_cols, F.coalesce("label", empty).alias("label"))
        )
    return out


def segmentation_labels(
    features: DataFrame,
    classes: Sequence[dict],
    tiles: Optional[DataFrame] = None,
    tile_cols: Sequence[str] = TILE_COLS,
    order_col: str = "id",
) -> DataFrame:
    """Per-tile 256x256 uint8 class-id raster as a binary column
    (reference label.py:36-54), from a frame of feature rows.

    Grouped-map ``applyInPandas`` over the tile key; each group is sorted
    by ``order_col`` (stable, so equal ids keep their row order) and burned
    by :func:`burn_tile`.  :func:`segmentation_tile_labels` computes the
    same rasters straight from a tile frame without materializing features.
    """
    filters, buffers = _burn_spec(classes)
    cols = list(tile_cols)

    schema = (
        ", ".join(f"{c} long" for c in cols) + ", label binary"
    )

    def burn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="stable")
        # column-array zip, not iterrows: pandas row views cost ~100us each,
        # which dominated the whole rasterize stage at bench scale
        features = zip(
            pdf["geometry"].to_numpy(),
            pdf["properties"].to_numpy(),
            pdf["geometry_type"].to_numpy(),
            pdf[order_col].to_numpy(),
        )
        head = {c: [pdf.iloc[0][c]] for c in cols}
        head["label"] = [burn_tile(features, filters, buffers)]
        return pd.DataFrame(head)

    # pin the grouped-map stage's parallelism: per-tile rasterize cost is
    # Python compute AQE's byte-based coalescing cannot see (guards
    # docstring has the measurements) — without the pin every tile burns
    # through one worker
    from label_maker_dask_spark.operators.guards import pin_group_parallelism

    out = pin_group_parallelism(features, *cols).groupBy(*cols).applyInPandas(
        burn, schema=schema
    )
    if tiles is not None:
        empty = F.lit(bytes(256 * 256))
        out = (
            tiles.select(*cols)
            .join(out, cols, "left")
            .select(*cols, F.coalesce("label", empty).alias("label"))
        )
    return out


SEGMENTATION_SCHEMA = "z int, x long, y long, label binary"
# tiles per output frame of the tile scan: 64 rasters are 4 MB, where one
# frame per 10k-row input Arrow batch would be about 655 MB
SCAN_CHUNK_TILES = 64


def segmentation_tile_labels(
    tiles: DataFrame,
    classes: Sequence[dict],
    label_source: Optional[str] = None,
    tile_fetcher: Optional[TileFetcher] = None,
) -> DataFrame:
    """Segmentation rasters computed inside the tile scan: one
    ``mapInPandas`` over ``tiles (z, x, y)`` fetches each tile's features
    (label source resolved by ``tile_fetcher_factory``) and burns them in
    the same task — no feature rows, no shuffle, no join.  Every tile,
    empty ones included, yields one ``SEGMENTATION_SCHEMA`` row, equal
    byte for byte to :func:`segmentation_labels` over ``fetch_features``
    of the same tiles."""
    fetcher_factory = tile_fetcher_factory(label_source, tile_fetcher)
    return tiles.select(*TILE_COLS).mapInPandas(
        segmentation_tile_scan(fetcher_factory, classes),
        schema=SEGMENTATION_SCHEMA,
    )


def segmentation_tile_scan(
    fetcher_factory: Callable[[], TileFetcher],
    classes: Sequence[dict],
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` function of :func:`segmentation_tile_labels`.
    Output frames hold at most ``SCAN_CHUNK_TILES`` tiles, whatever the
    size of the input Arrow batch."""
    filters, buffers = _burn_spec(classes)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetcher_factory()
        for pdf in batches:
            for start in range(0, len(pdf), SCAN_CHUNK_TILES):
                chunk = pdf.iloc[start:start + SCAN_CHUNK_TILES]
                labels = []
                for z, x, y in zip(chunk["z"], chunk["x"], chunk["y"]):
                    # sorted() is stable: equal ids burn in fetch order,
                    # as in the frame path; null ids last, as pandas does
                    feats = sorted(
                        fetch(int(z), int(x), int(y)),
                        key=lambda f: (f.get("id") is None, f.get("id") or 0),
                    )
                    features = (
                        (f.get("geometry"), f.get("properties"),
                         f.get("geometry_type"), f.get("id"))
                        for f in feats
                    )
                    labels.append(burn_tile(features, filters, buffers))
                yield pd.DataFrame({
                    "z": chunk["z"].to_numpy(),
                    "x": chunk["x"].to_numpy(),
                    "y": chunk["y"].to_numpy(),
                    "label": labels,
                })

    return scan


def _burn_spec(classes: Sequence[dict]) -> tuple[list, list[float]]:
    """Per-class (filters, buffers) in class order, for :func:`burn_tile`."""
    classes = _norm_classes(classes)
    return (
        [c.get("filter") for c in classes],
        [float(c.get("buffer") or 0.0) for c in classes],
    )


def burn_tile(
    features: Iterable[tuple], filters: Sequence, buffers: Sequence[float]
) -> bytes:
    """One tile's raster bytes from its ``(geometry, properties,
    geometry_type, id)`` features, given in burn order; ``geometry`` is a
    GeoJSON string and a feature whose geometry does not parse is skipped.

    Coordinates are converted to pixel space once per feature (fixing the
    double-convert bug at label.py:42-44), then each matching (feature,
    class) pair burns in (feature order, class index) order — later burns
    overwrite, the reference's rasterize REPLACE semantics.

    ``buffer`` on a class (reference ``geo.buffer(d, 4)`` between clip and
    burn, label.py:49-52) is applied WITHOUT a geometry library via
    burn-then-morph: the shape is burned to a scratch mask and a
    ``|d|``-px Euclidean disk dilation (negative d: erosion) runs on the
    256-px grid before the REPLACE write — see raster.morph_disk.
    """
    from label_maker_dask_spark.filters_local import feature_passes

    shapes = []
    for geometry, properties, gtype, fid in features:
        try:
            geom = json.loads(geometry)
        except (TypeError, ValueError):
            continue
        feature = {
            "properties": dict(properties) if properties is not None else {},
            "geometry": {"type": gtype},
            "id": fid,
        }
        converted = None
        for i, filt in enumerate(filters):
            if not feature_passes(filt, feature):
                continue
            if converted is None:
                converted = _convert_geom(geom)
            shapes.append((converted, i + 1, buffers[i]))
    return rasterize(shapes).tobytes()


def _convert_geom(geom: dict) -> dict:
    """Convert GeoJSON coordinates 0-4096 -> 0-255 pixel space with y-flip,
    HALF_EVEN rounding — numpy port of reference label.py:158-163/188-194,
    applied once per feature (not once per matching class)."""

    def conv(coords, depth_even=True):
        if not isinstance(coords, (list, tuple)):
            return coords
        if coords and isinstance(coords[0], (int, float)):
            # keep only (x, y): a 3-element GeoJSON position's altitude
            # must not be scaled as if it were a coordinate
            out = []
            for i, v in enumerate(coords[:2]):
                px = float(np.round(v * TILE_PX / EXTENT))
                out.append(px if i % 2 == 0 else TILE_PX - px)
            return out
        return [conv(c) for c in coords]

    g = dict(geom)
    if "coordinates" in g:
        g["coordinates"] = conv(g["coordinates"])
    return g


def empty_label_classification(n_classes: int) -> list[int]:
    """[1, 0, …] — background-only (reference label.py:197-202)."""
    return [1] + [0] * n_classes
