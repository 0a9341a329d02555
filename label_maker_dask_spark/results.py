"""Result rows, class-match predicates, and client-side display helpers
(reference result.py:15-128, utils.py:32-40,131-138 — SURVEY §2 A14/A18/
A19/A20).

Engine boundary: the *engine* returns a results DataFrame (one row per
tile: ``z,x,y, label, image``); everything in this module operates on
**collected rows** driver-side, exactly as the reference's Result classes
render in a notebook after ``dask.compute``.  ``class_match`` is the one
piece that belongs in the query layer — it compiles to a Column so result
filtering runs distributed (``results_df.filter(class_match(...))``),
unlike the reference which filters the gathered Python list.

No imaging library is assumed: rasters and RGB images render to real PNG
bytes via zlib/struct (stdlib), shown as data-URI ``<img>`` cards.
"""

from __future__ import annotations

import base64
from typing import Optional, Sequence

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

TILE_PX = 256

# 6-color cycling palette for class ids (slot 0/background renders black),
# mirroring the reference's fixed 6-color cycle (utils.py:131-138)
CLASS_PALETTE: list[tuple[int, int, int]] = [
    (102, 197, 204),
    (246, 207, 113),
    (248, 156, 116),
    (220, 176, 242),
    (135, 197, 95),
    (158, 185, 243),
]


def class_color(c: int) -> tuple[int, int, int]:
    """Class id -> RGB; 0 -> black (reference utils.py:131-138)."""
    if c == 0:
        return (0, 0, 0)
    return CLASS_PALETTE[(c - 1) % len(CLASS_PALETTE)]


def class_match(ml_type: str, i: int, label: Column = None) -> Column:
    """Does a label contain class ``i``?  (reference utils.py:32-40, the
    post-hoc result query.)  Returns a boolean Column over the ``label``
    column so the filter runs distributed:

    - classification: slot ``i`` of the flag vector is set (slot 0 =
      background, matching the reference's direct ``label[i]`` indexing)
    - object-detection: any box carries class ``i``
    - segmentation: any raster byte equals ``i`` (binary containment —
      no decode, JVM-side)
    """
    label = F.col("label") if label is None else label
    if ml_type == "classification":
        return F.element_at(label, i + 1) > 0  # element_at is 1-based
    if ml_type == "object-detection":
        return F.size(F.filter(label, lambda b: b["class"] == i)) > 0
    if ml_type == "segmentation":
        return F.contains(label, F.lit(bytes([i])))
    raise ValueError(f"unknown ml_type {ml_type!r}")


# --- PNG encoding (stdlib only) ---------------------------------------------


def _png_bytes(arr: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as a valid RGB PNG — delegates to
    the codec module's writer (multimodal/png.encode_png)."""
    from label_maker_dask_spark.multimodal.png import encode_png

    return encode_png(arr.astype(np.uint8))


def png_data_uri(arr: np.ndarray) -> str:
    return "data:image/png;base64," + base64.b64encode(_png_bytes(arr)).decode()


def _image_array(image: Optional[bytes], height: int, width: int, channels: int) -> np.ndarray:
    if image is None:
        return np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8)
    # TMS fetchers return the server's compressed payload untouched; the
    # reference decoded those through PIL at fetch time (utils.py:157-163).
    # Sniff the magic bytes and decode with the native codecs so rendering
    # works on raw buffers AND on compressed tiles.  A raw buffer whose first
    # pixels happen to spell a codec magic must not reach a decoder, so the
    # exact-raw-length check wins: compressed payloads essentially never
    # equal height*width*channels bytes.
    if len(image) == height * width * channels:
        arr = np.frombuffer(image, dtype=np.uint8).reshape(height, width, channels)
    elif image[:4] == b"\x89PNG":
        from label_maker_dask_spark.multimodal.png import decode_png

        arr = decode_png(bytes(image))
    elif image[:3] == b"\xff\xd8\xff":
        from label_maker_dask_spark.multimodal.jpeg import decode_jpeg

        arr = decode_jpeg(bytes(image))
        if arr.ndim == 2:
            arr = arr[:, :, np.newaxis]
    else:
        arr = np.frombuffer(image, dtype=np.uint8)
        arr = arr.reshape(height, width, channels)
    if channels == 2:  # gray+alpha: drop the alpha plane, spread gray to RGB
        return np.repeat(arr[:, :, :1], 3, axis=2)
    arr = arr[:, :, :3]
    if arr.shape[2] == 1:
        arr = np.repeat(arr, 3, axis=2)
    return arr


class PngImage:
    """A renderable RGB image without an imaging library: wraps an
    (H, W, 3) uint8 array and implements ``_repr_png_`` so notebooks
    display it inline exactly where the reference returned a
    ``PIL.Image`` (result.py:33-37,76-80,104-115).  ``save(fp)`` writes
    the PNG bytes for file parity."""

    def __init__(self, arr: np.ndarray):
        arr = np.ascontiguousarray(arr, dtype=np.uint8)
        if not arr.flags.writeable:
            # frombuffer-backed decodes are read-only; draw_label mutates
            arr = arr.copy()
        self.array = arr

    def _repr_png_(self) -> bytes:
        return _png_bytes(self.array)

    def save(self, fp, format: str = "PNG") -> None:
        if format.upper() != "PNG":
            raise ValueError("PngImage only encodes PNG (stdlib zlib path)")
        fp.write(_png_bytes(self.array))


def _draw_box_outline(
    arr: np.ndarray,
    x0: int,
    y0: int,
    x1: int,
    y1: int,
    color: tuple[int, int, int],
) -> None:
    """1-px rectangle outline, PIL ``ImageDraw.rectangle`` semantics
    (inclusive corners) — reference result.py:61-68.  Clipping matches
    PIL's raster behavior: an edge whose FIXED coordinate lies
    off-canvas is simply not visible (never relocated onto the canvas
    border); the in-range edges draw only their visible span."""
    h, w = arr.shape[:2]
    xa, xb = min(x0, x1), max(x0, x1)
    ya, yb = min(y0, y1), max(y0, y1)
    xs, xe = max(0, xa), min(w - 1, xb)  # visible span of horizontal edges
    ys, ye = max(0, ya), min(h - 1, yb)  # visible span of vertical edges
    if xs <= xe:
        if 0 <= ya < h:
            arr[ya, xs : xe + 1] = color  # top edge
        if 0 <= yb < h:
            arr[yb, xs : xe + 1] = color  # bottom edge
    if ys <= ye:
        if 0 <= xa < w:
            arr[ys : ye + 1, xa] = color  # left edge
        if 0 <= xb < w:
            arr[ys : ye + 1, xb] = color  # right edge


def _card(title: str, body: str) -> str:
    return (
        f'<div style="display:inline-block;margin:4px;text-align:center">'
        f"{body}<br/><small>{title}</small></div>"
    )


class Result:
    """Base result row: ``(tile, label, classes, image?)`` collected from the
    results DataFrame (reference result.py:15-46 holds the same fields)."""

    def __init__(self, tile, label, classes: Sequence[dict], image=None,
                 image_shape=(TILE_PX, TILE_PX, 3)):
        self.tile = tuple(tile)
        self.label = label
        self.classes = list(classes)
        self.image = bytes(image) if image is not None else None
        self.image_shape = image_shape

    def _image_html(self) -> str:
        arr = _image_array(self.image, *self.image_shape)
        return f'<img src="{png_data_uri(arr)}" width="{TILE_PX}"/>'

    def show_image(self) -> PngImage:
        """The tile imagery as a notebook-renderable image (reference
        result.py:33-37 returns ``Image.fromarray(self.image)``; here a
        stdlib-PNG wrapper over the decoded array)."""
        return PngImage(_image_array(self.image, *self.image_shape))


class ClassificationResult(Result):
    """Flag-vector card (reference result.py:15-46)."""

    def show_label(self) -> str:
        """Class/flag HTML table, one row per class with background first
        (reference result.py:27-32 builds the same table)."""
        names = ["background"] + [c["name"] for c in self.classes]
        rows = "".join(
            f"<tr><td>{n}</td><td>{'✓' if f else ''}</td></tr>"
            for n, f in zip(names, list(self.label))
        )
        return f"<table><tr><th>class</th><th>present</th></tr>{rows}</table>"

    def _repr_html_(self) -> str:
        return _card(f"tile {self.tile}", self._image_html() + self.show_label())


class ObjectDetectionResult(Result):
    """Bounding boxes drawn as an SVG overlay (reference result.py:49-89
    draws with ImageDraw; an overlay keeps it dependency-free)."""

    def draw_label(self, img) -> "PngImage":
        """Draw every box outline in its class color onto ``img``
        (reference result.py:61-68 ``ImageDraw.rectangle(...,
        outline=class_color(box[4]))``).  Accepts a ``PngImage`` or an
        (H, W, 3) array; mutates and returns the wrapper, mirroring the
        reference's draw-in-place-and-return."""
        if not isinstance(img, PngImage):
            img = PngImage(img)
        for b in self.label:
            _draw_box_outline(
                img.array,
                int(b["xmin"]), int(b["ymin"]),
                int(b["xmax"]), int(b["ymax"]),
                class_color(int(b["class"])),
            )
        return img

    def show_label(self) -> "PngImage":
        """Boxes on a black canvas (reference result.py:70-74 draws onto
        ``Image.new("RGB", (256, 256))``)."""
        return self.draw_label(
            PngImage(np.zeros((TILE_PX, TILE_PX, 3), dtype=np.uint8))
        )

    def _repr_html_(self) -> str:
        boxes = "".join(
            '<rect x="{x}" y="{y}" width="{w}" height="{h}" '
            'style="fill:none;stroke:rgb{c};stroke-width:2"/>'.format(
                x=b["xmin"], y=b["ymin"],
                w=max(1, b["xmax"] - b["xmin"]),
                h=max(1, b["ymax"] - b["ymin"]),
                c=class_color(b["class"]),
            )
            for b in self.label
        )
        arr = _image_array(self.image, *self.image_shape)
        svg = (
            f'<svg width="{TILE_PX}" height="{TILE_PX}">'
            f'<image href="{png_data_uri(arr)}" width="{TILE_PX}" '
            f'height="{TILE_PX}"/>{boxes}</svg>'
        )
        return _card(f"tile {self.tile} ({len(self.label)} boxes)", svg)


class SegmentationResult(Result):
    """Class-id raster colorized per class (reference result.py:92-128)."""

    def show_label(self) -> PngImage:
        """The class-id raster colorized through ``class_color`` per pixel
        (reference result.py:104-110 builds the same visible label via
        ``np.nditer``; a 256-entry LUT is the vectorized equivalent —
        ids beyond the class list cycle exactly like ``class_color``)."""
        raster = np.frombuffer(self.label, dtype=np.uint8).reshape(
            TILE_PX, TILE_PX
        )
        lut = np.array([class_color(cid) for cid in range(256)], dtype=np.uint8)
        return PngImage(lut[raster])

    def _repr_html_(self) -> str:
        img = (
            f'<img src="{png_data_uri(self.show_label().array)}" '
            f'width="{TILE_PX}"/>'
        )
        return _card(f"tile {self.tile}", img)


_RESULT_CLASSES = {
    "classification": ClassificationResult,
    "object-detection": ObjectDetectionResult,
    "segmentation": SegmentationResult,
}


def wrap_results(rows, ml_type: str, classes: Sequence[dict],
                 tile_cols: Sequence[str] = ("z", "x", "y")) -> list[Result]:
    """Collected DataFrame rows -> typed Result objects (the dispatch the
    reference does per task at main.py:56-63, here once per collected row)."""
    cls = _RESULT_CLASSES[ml_type]
    out = []
    for r in rows:
        d = r.asDict() if hasattr(r, "asDict") else dict(r)
        tile = tuple(d[c] for c in tile_cols if c in d)
        out.append(cls(tile, d["label"], classes, d.get("image")))
    return out
