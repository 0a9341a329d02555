"""Minimal native GDAL-VRT mosaic reader.

The reference accepts VRT imagery because rasterio is a hard dependency
there (``utils.py:100`` passes any ``GTiff``/``VRT`` driver through);
this engine keeps imagery readers dependency-free, so the common VRT
case — ``gdalbuildvrt`` output: a flat XML manifest of SimpleSources
pasting whole GeoTIFF tiles into a larger grid at 1:1 scale — is parsed
here with the standard library and served through the same windowed-read
contract as :class:`sources.tiff.TiffFile`.  Anything beyond that scope
(ComplexSource, resampling Src→Dst rects, nodata math, overviews) fails
fast with an error naming rio-tiler/rasterio, never a silent wrong
mosaic.

Scale posture: a ``VrtDataset`` is parsed once per task from a small XML
file; each ``read_tile`` window touches only the source files whose
DstRects intersect it, and those underlying reads are themselves
strip/tile-windowed (``TiffFile.read_rows``), so a z15 tile over a
10k-file mosaic opens a handful of files and decodes a few strips — the
same I/O shape rasterio's VRT driver produces.

Members are read by range (``tiff.open_tiff``), never whole, and decode
into one block LRU per mosaic, bounded by ``tiff.BLOCK_CACHE_BYTES``.
"""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET
from typing import Optional

import numpy as np

from label_maker_dask_spark.sources import tiff

_UNSUPPORTED = (
    "unsupported VRT feature {what}: the dependency-free reader handles "
    "flat SimpleSource mosaics at 1:1 scale only — install rio-tiler (or "
    "rasterio) for full VRT support"
)


def _parse_epsg(srs_text: Optional[str]) -> Optional[int]:
    if not srs_text:
        return None
    m = re.search(r"EPSG[:\"\',\s\]\[]*(\d+)\s*\"?\s*\]?\s*$", srs_text.strip())
    if m:
        return int(m.group(1))
    # WKT: the LAST AUTHORITY["EPSG","nnnn"] names the full CRS
    hits = re.findall(r'AUTHORITY\s*\[\s*"EPSG"\s*,\s*"(\d+)"\s*\]', srs_text)
    return int(hits[-1]) if hits else None


class VrtDataset:
    """Parsed VRT mosaic exposing the :class:`TiffFile` windowed-read
    surface (``width/height/spp/sx/sy/origin_x/origin_y/epsg`` +
    ``read_rows``), so ``sources.tiff.read_tile`` works on it unchanged."""

    def __init__(self, xml_text: str, base_dir: str = "."):
        root = ET.fromstring(xml_text)
        if root.tag != "VRTDataset":
            raise ValueError("not a VRT (root element is not VRTDataset)")
        self.width = int(root.attrib["rasterXSize"])
        self.height = int(root.attrib["rasterYSize"])

        gt_el = root.find("GeoTransform")
        if gt_el is None or not gt_el.text:
            raise ValueError("VRT has no GeoTransform (not georeferenced)")
        gt = [float(v) for v in gt_el.text.split(",")]
        if gt[2] != 0.0 or gt[4] != 0.0:
            raise ValueError(_UNSUPPORTED.format(what="rotated GeoTransform"))
        self.origin_x, self.sx = gt[0], gt[1]
        self.origin_y, self.sy = gt[3], -gt[5]
        if self.sx <= 0 or self.sy <= 0:
            raise ValueError(
                _UNSUPPORTED.format(what="non-north-up GeoTransform")
            )
        srs_el = root.find("SRS")
        self.epsg = _parse_epsg(srs_el.text if srs_el is not None else None)

        self._bands = []  # per band: list of source dicts
        self._base_dir = base_dir
        self._open_files: dict = {}
        self._blocks = tiff._Lru(tiff.BLOCK_CACHE_BYTES)
        for band_el in sorted(
            root.findall("VRTRasterBand"),
            key=lambda b: int(b.attrib.get("band", "1")),
        ):
            for child in band_el:
                if child.tag not in (
                    "SimpleSource",
                    "ColorInterp",
                    "NoDataValue",
                    "Description",
                ):
                    raise ValueError(_UNSUPPORTED.format(what=child.tag))
            sources = []
            for s in band_el.findall("SimpleSource"):
                fn_el = s.find("SourceFilename")
                if fn_el is None or not fn_el.text:
                    raise ValueError("SimpleSource without SourceFilename")
                fname = fn_el.text.strip()
                if fn_el.attrib.get("relativeToVRT", "0") == "1":
                    if base_dir.startswith(("http://", "https://")):
                        from urllib.parse import urljoin

                        fname = urljoin(base_dir.rstrip("/") + "/", fname)
                    else:
                        fname = os.path.join(base_dir, fname)
                sb_el = s.find("SourceBand")
                src_band = int(sb_el.text) if sb_el is not None else 1

                def rect(el):
                    return (
                        int(float(el.attrib["xOff"])),
                        int(float(el.attrib["yOff"])),
                        int(float(el.attrib["xSize"])),
                        int(float(el.attrib["ySize"])),
                    )

                src_el, dst_el = s.find("SrcRect"), s.find("DstRect")
                if src_el is not None and dst_el is not None:
                    src_r, dst_r = rect(src_el), rect(dst_el)
                else:
                    # rects may be omitted: the whole source pastes at its
                    # georeferenced position — resolved lazily on first read
                    src_r = dst_r = None
                if (
                    src_r is not None
                    and (src_r[2], src_r[3]) != (dst_r[2], dst_r[3])
                ):
                    raise ValueError(
                        _UNSUPPORTED.format(what="resampling Src/Dst rects")
                    )
                sources.append(
                    {"file": fname, "band": src_band, "src": src_r, "dst": dst_r}
                )
            self._bands.append(sources)
        if not self._bands:
            raise ValueError("VRT declares no raster bands")
        self.spp = len(self._bands)

    # -- underlying file access ------------------------------------------

    def _tif(self, fname: str):
        """The member ``fname``, opened once over ranged reads.  Every
        member decodes into the mosaic's one block LRU, so a task's
        decoded blocks stay under one ``BLOCK_CACHE_BYTES`` however many
        members it opens."""
        tif = self._open_files.get(fname)
        if tif is None:
            tif = tiff.open_tiff(fname)
            tif._blocks = self._blocks
            self._open_files[fname] = tif
        return tif

    def _resolved(self, src: dict):
        """Fill in omitted rects from the source file's own georeference."""
        if src["src"] is None:
            tif = self._tif(src["file"])
            if tif.sx is None:
                raise ValueError(
                    f"VRT source {src['file']} has no rects and no "
                    "georeference to derive them from"
                )
            dx = int(round((tif.origin_x - self.origin_x) / self.sx))
            dy = int(round((self.origin_y - tif.origin_y) / self.sy))
            src["src"] = (0, 0, tif.width, tif.height)
            src["dst"] = (dx, dy, tif.width, tif.height)
        return src

    # -- the TiffFile windowed-read contract ------------------------------

    def read_rows(
        self,
        r0: int,
        r1: int,
        c0: int | None = None,
        c1: int | None = None,
    ) -> np.ndarray:
        """(r1-r0, width, spp) uint8 window composited from every source
        whose DstRect intersects it; later sources overwrite earlier ones
        in their overlap (GDAL's paint order).  Only intersecting files
        are opened, and each underlying read is itself windowed."""
        lo_c = 0 if c0 is None else max(0, c0)
        hi_c = self.width if c1 is None else min(self.width, c1)
        out = np.zeros((r1 - r0, self.width, self.spp), dtype=np.uint8)
        for bi, sources in enumerate(self._bands):
            for raw in sources:
                s = self._resolved(raw)
                dx, dy, w, h = s["dst"]
                ir0, ir1 = max(r0, dy), min(r1, dy + h)
                ic0, ic1 = max(lo_c, dx), min(hi_c, dx + w)
                if ir0 >= ir1 or ic0 >= ic1:
                    continue
                sx0, sy0 = s["src"][0], s["src"][1]
                tif = self._tif(s["file"])
                sr0 = sy0 + (ir0 - dy)
                sr1 = sy0 + (ir1 - dy)
                sc0 = sx0 + (ic0 - dx)
                sc1 = sx0 + (ic1 - dx)
                win = tif.read_rows(sr0, sr1, sc0, sc1)
                if s["band"] > tif.spp:
                    raise ValueError(
                        _UNSUPPORTED.format(
                            what=(
                                f"SourceBand {s['band']} of a "
                                f"{tif.spp}-band source {s['file']!r}"
                            )
                        )
                    )
                band_idx = s["band"] - 1
                out[ir0 - r0 : ir1 - r0, ic0:ic1, bi] = win[
                    :, sc0:sc1, band_idx
                ]
        return out


def open_vrt(path: str) -> VrtDataset:
    """Parse a ``.vrt`` from disk or URL; relative sources resolve
    against its directory (remote members read via HTTP range requests,
    exactly as single remote COGs do)."""
    if path.startswith(("http://", "https://")):
        import requests

        resp = requests.get(path, timeout=30)
        resp.raise_for_status()
        base = path.rsplit("/", 1)[0]
        return VrtDataset(resp.text, base_dir=base)
    with open(path, "r", encoding="utf-8") as fh:
        text = fh.read()
    return VrtDataset(text, base_dir=os.path.dirname(os.path.abspath(path)))


__all__ = ["VrtDataset", "open_vrt"]
