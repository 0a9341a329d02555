"""Label derivation operators — the core of the reference pipeline
(reference label.py:10-57) re-expressed as Spark plans.

Three ml_types (reference main.py:56-62):

- classification: per tile, a ``len(classes)+1`` int vector of class-presence
  flags, slot 0 = background (label.py:15-23).
- object-detection: per tile, an array of ``(xmin, ymin, xmax, ymax, class)``
  pixel boxes (label.py:24-35).
- segmentation: per tile, a 256x256 uint8 class-id raster (label.py:36-54).

Each has two entry points that agree row for row:

- The job path, :func:`tile_labels`: one ``mapInPandas`` over the tile
  frame fetches each tile's features, computes its label with a per-tile
  kernel (:func:`classification_tile`, :func:`detection_tile`,
  :func:`segmentation_tile`) and, when the job has imagery, fetches its
  image, all in one task — the reference's one-task-per-tile shape
  (main.py:20-63), with no feature rows, no shuffle and no join.  Filters
  run through ``filters_local.feature_passes``, the interpreter twin of
  ``compile_filter``.
- The frame operators over an existing feature frame, used by the catalog
  cells and as the reference the job is tested against.
  :func:`classification_labels` is a hash aggregate of boolean-exists per
  class (one shuffle, map-side partial agg, codegen'd);
  :func:`detection_labels` is pure column math (bounds extraction, scale,
  y-flip, pad, clamp) plus ``collect_list``; :func:`segmentation_labels`
  burns each tile's features with :func:`burn_tile` in a grouped-map
  ``applyInPandas``.

Error tolerance (reference main.py:42-44, label.py:55-57): a tile with no
features must still produce its empty label.  The tile scan emits one row
per tile by construction; pass the ``tiles`` frame to a frame operator and
it left-joins it, filling the per-ml_type empty label.

Known reference bug deliberately NOT replicated: label.py:42-44 mutates
``feat["geometry"]["coordinates"]`` in place, double-converting features that
match two classes.  We convert each feature's coordinates exactly once.
"""

from __future__ import annotations

import json
import re
from typing import Any, Callable, Iterable, Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from label_maker_dask_spark.filters import compile_filter
from label_maker_dask_spark.filters_local import feature_passes
from label_maker_dask_spark.functions.pixel import (
    EXTENT,
    TILE_PX,
    pixel_bbox,
    pixel_bbox_cols,
)
from label_maker_dask_spark.raster import rasterize
from label_maker_dask_spark.sources.imagery import ImageFetcher
from label_maker_dask_spark.sources.vector_tiles import TileFetcher
from label_maker_dask_spark.tiles import tile_chunks

TILE_COLS = ("z", "x", "y")
# the label column's type per ml_type; the tile scan yields
# ``z int, x long, y long, label <type>[, image binary]``
LABEL_TYPES = {
    "classification": "array<int>",
    "object-detection": (
        "array<struct<xmin:int,ymin:int,xmax:int,ymax:int,class:int>>"
    ),
    "segmentation": "binary",
}

# innermost GeoJSON coordinate pairs "[x, y]" — lets us take geometry bounds
# with a vectorized regexp instead of parsing ragged nested arrays (the
# coordinate nesting is recursively ragged, reference label.py:158-163)
_NUM = r"(-?[0-9]+(?:\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)"
_PAIR_RE = r"\[\s*" + _NUM + r"\s*,\s*" + _NUM + r"\s*[\],]"
# the same pattern for Python workers; ASCII so ``\s`` matches what Java's
# does
_PAIR = re.compile(_PAIR_RE, re.ASCII)


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


def geometry_bounds_local(geometry: Optional[str]) -> tuple:
    """Python twin of :func:`geometry_bounds` for one geometry string:
    ``(xmin, ymin, xmax, ymax)`` over the same regexp's coordinate pairs,
    all four ``None`` when there are none (a null, empty or truncated
    geometry), as ``array_min`` of an empty array is null."""
    pairs = _PAIR.findall(geometry) if geometry is not None else []
    if not pairs:
        return (None, None, None, None)
    xs = [float(x) for x, _ in pairs]
    ys = [float(y) for _, y in pairs]
    return (min(xs), min(ys), max(xs), max(ys))


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
    empty = F.array().cast(LABEL_TYPES["object-detection"])
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
    by :func:`burn_tile`.  :func:`tile_labels` computes the same rasters
    straight from a tile frame without materializing features.
    """
    filters, buffers = _class_spec(classes)
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


def tile_labels(
    tiles: DataFrame,
    ml_type: str,
    classes: Sequence[dict],
    fetcher_factory: Callable[[], TileFetcher],
    image_factory: Optional[Callable[[], ImageFetcher]] = None,
) -> DataFrame:
    """Labels computed inside the tile scan: one ``mapInPandas`` over
    ``tiles (z, x, y)`` fetches each tile's features (fetcher built by
    ``fetcher_factory``, see ``sources.vector_tiles.tile_fetcher_factory``),
    computes its ``ml_type`` label and, given ``image_factory`` (see
    ``sources.imagery.image_fetcher_factory``), fetches its image in the
    same task — no feature rows, no shuffle, no join.

    Every tile, empty ones included, yields one
    ``z int, x long, y long, label <LABEL_TYPES[ml_type]>[, image binary]``
    row, equal to the frame operator over ``fetch_features`` of the same
    tiles (joined to ``fetch_images`` when there is imagery)."""
    schema = f"z int, x long, y long, label {LABEL_TYPES[ml_type]}"
    if image_factory is not None:
        schema += ", image binary"
    return tiles.select(*TILE_COLS).mapInPandas(
        tile_scan(ml_type, classes, fetcher_factory, image_factory),
        schema=schema,
    )


def tile_scan(
    ml_type: str,
    classes: Sequence[dict],
    fetcher_factory: Callable[[], TileFetcher],
    image_factory: Optional[Callable[[], ImageFetcher]] = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` function of :func:`tile_labels`.  Output
    frames hold at most ``tiles.SCAN_CHUNK_TILES`` tiles, whatever the
    size of the input Arrow batch."""
    filters, buffers = _class_spec(classes)
    kernel = {
        "classification": lambda feats: classification_tile(feats, filters),
        "object-detection": lambda feats: detection_tile(feats, filters, buffers),
        "segmentation": lambda feats: segmentation_tile(feats, filters, buffers),
    }[ml_type]

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetcher_factory()
        fetch_image = image_factory() if image_factory is not None else None
        for chunk in tile_chunks(batches):
            keys = list(zip(
                chunk["z"].tolist(), chunk["x"].tolist(), chunk["y"].tolist()
            ))
            out = {c: chunk[c].to_numpy() for c in TILE_COLS}
            out["label"] = [kernel(fetch(z, x, y)) for z, x, y in keys]
            if fetch_image is not None:
                out["image"] = [fetch_image(z, x, y) for z, x, y in keys]
            yield pd.DataFrame(out)

    return scan


def _class_spec(classes: Sequence[dict]) -> tuple[list, list[float]]:
    """Per-class (filters, buffers) in class order, for the per-tile
    kernels."""
    classes = _norm_classes(classes)
    return (
        [c.get("filter") for c in classes],
        [float(c.get("buffer") or 0.0) for c in classes],
    )


def _filter_view(properties: Any, gtype: Optional[str], fid: Any) -> dict:
    """The feature dict ``filters_local.feature_passes`` evaluates."""
    return {
        "properties": dict(properties) if properties is not None else {},
        "geometry": {"type": gtype},
        "id": fid,
    }


def classification_tile(features: Iterable[dict], filters: Sequence) -> list[int]:
    """One tile's class-presence vector from its fetched feature dicts:
    slot ``i+1`` is 1 iff any feature passes class i's filter, slot 0 is 1
    iff no slot is (what :func:`classification_labels` aggregates)."""
    flags = [0] * len(filters)
    for f in features:
        view = _filter_view(
            f.get("properties"), f.get("geometry_type"), f.get("id")
        )
        for i, filt in enumerate(filters):
            if not flags[i] and feature_passes(filt, view):
                flags[i] = 1
    return [int(not any(flags))] + flags


def detection_tile(
    features: Iterable[dict], filters: Sequence, buffers: Sequence[float]
) -> list[dict]:
    """One tile's pixel boxes from its fetched feature dicts, equal to
    :func:`detection_labels`: per feature, one box per matching class in
    class order, from the regexp bounds of its geometry string (so a
    geometry that is not JSON still gets boxes) expanded by the class's
    buffer and mapped by ``pixel_bbox``.  Features are ordered as
    ``array_sort(collect_list(struct(id, boxes)))`` orders them: by id
    with null ids first, equal ids by their boxes — not in fetch order."""
    per_feature = []
    for f in features:
        view = _filter_view(
            f.get("properties"), f.get("geometry_type"), f.get("id")
        )
        bounds = None
        boxes = []
        for i, filt in enumerate(filters):
            if not feature_passes(filt, view):
                continue
            if bounds is None:
                bounds = geometry_bounds_local(f.get("geometry"))
            xmin, ymin, xmax, ymax = bounds
            if xmin is not None:
                d = buffers[i]
                xmin, ymin, xmax, ymax = xmin - d, ymin - d, xmax + d, ymax + d
            boxes.append((*pixel_bbox(xmin, ymin, xmax, ymax), i + 1))
        if boxes:
            fid = f.get("id")
            per_feature.append(((fid is not None, fid or 0), boxes))
    per_feature.sort()
    return [
        dict(zip(("xmin", "ymin", "xmax", "ymax", "class"), box))
        for _, boxes in per_feature
        for box in boxes
    ]


def segmentation_tile(
    features: Iterable[dict], filters: Sequence, buffers: Sequence[float]
) -> bytes:
    """One tile's raster bytes from its fetched feature dicts, equal to
    :func:`segmentation_labels`: features burn in id order, equal ids in
    fetch order, null ids last (the frame path's stable pandas sort)."""
    feats = sorted(
        features, key=lambda f: (f.get("id") is None, f.get("id") or 0)
    )
    return burn_tile(
        (
            (f.get("geometry"), f.get("properties"),
             f.get("geometry_type"), f.get("id"))
            for f in feats
        ),
        filters,
        buffers,
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
    shapes = []
    for geometry, properties, gtype, fid in features:
        try:
            geom = json.loads(geometry)
        except (TypeError, ValueError):
            continue
        feature = _filter_view(properties, gtype, fid)
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
