"""Dependency-free windowed GeoTIFF reader (numpy + stdlib zlib).

Gives the imagery connector a working local-GeoTIFF path (reference
utils.py:55-62 reads COG windows via rio-tiler, unavailable here) for the
baseline-TIFF subset that covers typical exported basemap rasters:

- uint8 samples, chunky planar layout (PlanarConfiguration=1)
- striped or internally-tiled organization
- compression: none (1) or DEFLATE (8 / 32946, stdlib zlib) with
  optional horizontal-differencing predictor (2)
- georeferencing from ModelTiepoint + ModelPixelScale (axis-aligned),
  CRS from the GeoKey directory (EPSG:4326 or EPSG:3857)

``read_tile`` maps a slippy-map tile to a source-pixel window, decodes
ONLY the strips/tiles that intersect it (the windowed-read property that
makes COG-style access parallelize per map tile), and nearest-neighbor
resamples to 256×256.  Pixels outside the raster come back 0.

Each ``TiffFile`` keeps its decoded strips/tiles in an LRU bounded by
``BLOCK_CACHE_BYTES`` (GDAL's block cache plays this part under the
reference's rio-tiler).  ``tif_image_fetcher`` opens one ``TiffFile``
per task and ``tiles_df`` numbers tiles row-major, so neighbouring map
tiles in a task share blocks and each block decompresses once.  Cached
blocks are read-only arrays.

Byte access goes through a range source, never a whole-file read:
``open_tiff`` gives local paths ``FileRangeSource`` (``os.pread``) and
``http(s)://`` URLs ``HttpRangeSource`` (stdlib urllib, Range requests
over an LRU of 64 KiB blocks).  A task reads the header, the IFD and
the blocks its windows touch, the same I/O rio-tiler does for the
reference; servers that ignore ``Range`` degrade to a single full
download.
"""

from __future__ import annotations

import math
import os
import struct
import urllib.request
import weakref
import zlib
from collections import OrderedDict
from typing import Optional

import numpy as np

TILE_PX = 256

# decoded strips/tiles one ``TiffFile`` (or one VRT mosaic's members)
# keeps: a 256x256 RGB block is 196 KB, so this holds ~340 of them
BLOCK_CACHE_BYTES = 64 << 20
# raw bytes one ``HttpRangeSource`` keeps (its 64 KiB range blocks)
RANGE_CACHE_BYTES = 16 << 20

_TAG_WIDTH = 256
_TAG_HEIGHT = 257
_TAG_BPS = 258
_TAG_COMPRESSION = 259
_TAG_STRIP_OFFSETS = 273
_TAG_SPP = 277
_TAG_ROWS_PER_STRIP = 278
_TAG_STRIP_COUNTS = 279
_TAG_PLANAR = 284
_TAG_PREDICTOR = 317
_TAG_TILE_W = 322
_TAG_TILE_H = 323
_TAG_TILE_OFFSETS = 324
_TAG_TILE_COUNTS = 325
_TAG_PIXEL_SCALE = 33550
_TAG_TIEPOINT = 33922
_TAG_GEO_KEYS = 34735

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 12: 8}


class _Lru:
    """Least-recently-used map bounded in bytes; ``put`` evicts the
    oldest entries until the total fits (the newest always stays)."""

    def __init__(self, max_bytes: int):
        self.max_bytes = max_bytes
        self.nbytes = 0
        self._items: OrderedDict = OrderedDict()

    def get(self, key):
        hit = self._items.get(key)
        if hit is None:
            return None
        self._items.move_to_end(key)
        return hit[0]

    def put(self, key, value, nbytes: int) -> None:
        old = self._items.pop(key, None)
        if old is not None:
            self.nbytes -= old[1]
        self._items[key] = (value, nbytes)
        self.nbytes += nbytes
        while self.nbytes > self.max_bytes and len(self._items) > 1:
            _, (_, old) = self._items.popitem(last=False)
            self.nbytes -= old


class _MemorySource:
    """Byte-range source over an in-memory buffer."""

    def __init__(self, data: bytes):
        self._data = data

    def read(self, off: int, n: int) -> bytes:
        return self._data[off : off + n]


class FileRangeSource:
    """Byte-range source over a local file via ``os.pread``: the local
    twin of ``HttpRangeSource``.  A task holds only the bytes it asks
    for, never the whole file, whatever the raster's size.
    ``bytes_fetched`` counts them.  The descriptor closes with the
    source."""

    def __init__(self, path: str):
        self._fd = os.open(path, os.O_RDONLY)
        weakref.finalize(self, os.close, self._fd)
        self.bytes_fetched = 0

    def read(self, off: int, n: int) -> bytes:
        data = os.pread(self._fd, n, off) if n > 0 else b""
        self.bytes_fetched += len(data)
        return data


class HttpRangeSource:
    """Byte-range source over HTTP using ``Range`` requests (stdlib only).

    Reads are served from an LRU of ``block``-sized blocks bounded by
    ``RANGE_CACHE_BYTES``; a miss fetches ONE coalesced ``bytes=lo-hi``
    request covering the missing run, so a strip/tile decode costs at
    most one round trip.  A server that answers 200 instead of 206
    doesn't support ranges — the body is kept and all further reads are
    memory reads (correct, just not windowed).

    ``requests_made`` / ``bytes_fetched`` are exposed so tests (and
    profiling) can assert the windowed-access property: decoding one map
    tile must NOT download the whole raster.

    ``block`` trades round-trips against over-fetch: it should sit at or
    below the raster's internal tile/strip byte size (64 KiB default
    suits the common 256-512 px compressed COG tiles; drop it for
    rasters with very small chunks).
    """

    def __init__(self, url: str, timeout: float = 30.0, block: int = 64 * 1024):
        self.url = url
        self.timeout = timeout
        self.BLOCK = block
        self._blocks = _Lru(RANGE_CACHE_BYTES)
        self._full: Optional[bytes] = None
        self.requests_made = 0
        self.bytes_fetched = 0

    def _fetch_range(self, lo: int, hi: int) -> bytes:
        req = urllib.request.Request(
            self.url, headers={"Range": f"bytes={lo}-{hi}"}
        )
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:
            body = resp.read()
            self.requests_made += 1
            self.bytes_fetched += len(body)
            if resp.status == 200:  # Range ignored: full body came back
                self._full = body
        return body

    def read(self, off: int, n: int) -> bytes:
        if n <= 0:
            return b""
        if self._full is not None:
            return self._full[off : off + n]
        b0 = off // self.BLOCK
        b1 = (off + n - 1) // self.BLOCK
        # held here, not re-read from the LRU: a read wider than its
        # bound would evict its own first blocks
        got = {b: self._blocks.get(b) for b in range(b0, b1 + 1)}
        missing = [b for b, v in got.items() if v is None]
        # coalesce contiguous missing blocks into single range requests
        i = 0
        while i < len(missing):
            j = i
            while j + 1 < len(missing) and missing[j + 1] == missing[j] + 1:
                j += 1
            lo = missing[i] * self.BLOCK
            hi = (missing[j] + 1) * self.BLOCK - 1
            body = self._fetch_range(lo, hi)
            if self._full is not None:
                return self._full[off : off + n]
            for k, b in enumerate(range(missing[i], missing[j] + 1)):
                got[b] = body[k * self.BLOCK : (k + 1) * self.BLOCK]
                self._blocks.put(b, got[b], len(got[b]))
            i = j + 1
        buf = b"".join(got[b] for b in range(b0, b1 + 1))
        start = off - b0 * self.BLOCK
        return buf[start : start + n]


class TiffFile:
    """Parsed baseline TIFF/GeoTIFF over a byte-range source (one open,
    many windows).  Accepts raw bytes or any object with
    ``read(offset, n) -> bytes`` (e.g. ``FileRangeSource``,
    ``HttpRangeSource``).  Decoded strips/tiles are kept in ``_blocks``,
    an LRU bounded by ``BLOCK_CACHE_BYTES``; a VRT mosaic points its
    members at one shared LRU, so they share that one bound."""

    def __init__(self, data):
        self._src = (
            _MemorySource(bytes(data))
            if isinstance(data, (bytes, bytearray, memoryview))
            else data
        )
        self._blocks = _Lru(BLOCK_CACHE_BYTES)
        head = self._src.read(0, 8)
        if head[:2] == b"II":
            self._e = "<"
        elif head[:2] == b"MM":
            self._e = ">"
        elif head.lstrip()[:1] == b"<" or head[:3] == b"\xef\xbb\xbf":
            # GDAL VRT (an XML mosaic manifest, reference utils.py:100
            # accepts it via rasterio) — this class parses real TIFF
            # bytes only; point at the VRT path instead of a cryptic
            # byte-order error.
            raise ValueError(
                "input is an XML dataset (GDAL VRT mosaic?), not a TIFF. "
                "Pass the .vrt path to the imagery connector (the native "
                "flat-mosaic VRT reader handles it), or install rio-tiler "
                "(or rasterio) for full VRT support"
            )
        else:
            raise ValueError("not a TIFF (bad byte-order mark)")
        magic, ifd_off = struct.unpack(self._e + "HI", head[2:8])
        if magic != 42:
            raise ValueError("not a TIFF (bad magic)")
        self.tags = self._read_ifd(ifd_off)

        self.width = int(self._scalar(_TAG_WIDTH))
        self.height = int(self._scalar(_TAG_HEIGHT))
        self.spp = int(self._scalar(_TAG_SPP, 1))
        bps = self.tags.get(_TAG_BPS, [8])
        if any(b != 8 for b in bps):
            raise ValueError(f"only 8-bit samples supported, got {bps}")
        self.compression = int(self._scalar(_TAG_COMPRESSION, 1))
        if self.compression not in (1, 8, 32946):
            raise ValueError(f"unsupported compression {self.compression}")
        if int(self._scalar(_TAG_PLANAR, 1)) != 1:
            raise ValueError("only chunky planar layout supported")
        self.predictor = int(self._scalar(_TAG_PREDICTOR, 1))
        self.tiled = _TAG_TILE_OFFSETS in self.tags

        scale = self.tags.get(_TAG_PIXEL_SCALE)
        tie = self.tags.get(_TAG_TIEPOINT)
        if scale and tie:
            i, j, _k, gx, gy, _gz = tie[:6]
            self.sx, self.sy = float(scale[0]), float(scale[1])
            # origin = geo coordinate of pixel (0, 0)'s upper-left corner
            self.origin_x = float(gx) - float(i) * self.sx
            self.origin_y = float(gy) + float(j) * self.sy
        else:
            self.sx = self.sy = None  # not georeferenced
        self.epsg = self._parse_epsg()

    # -- low-level parsing ----------------------------------------------------

    def _read_ifd(self, off: int) -> dict:
        n = struct.unpack(self._e + "H", self._src.read(off, 2))[0]
        entries = self._src.read(off + 2, n * 12)
        tags = {}
        for k in range(n):
            base = k * 12
            tag, typ, count = struct.unpack_from(self._e + "HHI", entries, base)
            size = _TYPE_SIZES.get(typ, 1) * count
            if size <= 4:
                raw = entries[base + 8:base + 8 + size]
            else:
                ptr = struct.unpack_from(self._e + "I", entries, base + 8)[0]
                raw = self._src.read(ptr, size)
            tags[tag] = self._decode_values(typ, count, raw)
        return tags

    def _decode_values(self, typ: int, count: int, raw: bytes):
        if typ == 3:
            return list(struct.unpack(self._e + "H" * count, raw))
        if typ == 4:
            return list(struct.unpack(self._e + "I" * count, raw))
        if typ == 12:
            return list(struct.unpack(self._e + "d" * count, raw))
        if typ == 1:
            return list(raw)
        return raw

    def _scalar(self, tag: int, default=None):
        v = self.tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"missing required TIFF tag {tag}")
            return default
        return v[0]

    def _parse_epsg(self) -> Optional[int]:
        keys = self.tags.get(_TAG_GEO_KEYS)
        if not keys:
            return None
        # GeoKey directory: header of 4 shorts then (key, loc, count, value)
        for k in range(4, len(keys) - 3, 4):
            key_id, loc, _cnt, val = keys[k:k + 4]
            if loc == 0 and key_id in (2048, 3072):  # geographic / projected
                return int(val)
        return None

    # -- chunk decode ---------------------------------------------------------

    def _decode_chunk(self, idx: int, offs, cnts, rows: int, cols: int) -> np.ndarray:
        """Strip/tile ``idx`` as a read-only (rows, cols, spp) array,
        decoded at most once while it stays in ``_blocks``."""
        key = (id(self), idx)  # the members of a VRT share one LRU
        arr = self._blocks.get(key)
        if arr is not None:
            return arr
        raw = self._src.read(offs[idx], cnts[idx])
        if self.compression in (8, 32946):
            raw = zlib.decompress(raw)
        arr = np.frombuffer(raw, dtype=np.uint8, count=rows * cols * self.spp)
        arr = arr.reshape(rows, cols, self.spp)
        if self.predictor == 2:
            # horizontal differencing accumulates mod 256, which is
            # exactly uint8 wrap-around
            arr = np.cumsum(arr, axis=1, dtype=np.uint8)
        arr.flags.writeable = False
        self._blocks.put(key, arr, arr.nbytes)
        return arr

    def read_rows(self, r0: int, r1: int, c0: int | None = None,
                  c1: int | None = None) -> np.ndarray:
        """Decode only the strips/tiles covering rows [r0, r1) — the
        windowed read.  Returns (r1-r0, width, spp) uint8 (full width;
        columns outside an optional [c0, c1) stay zero).  In the tiled
        layout the column bounds also prune which tiles DECODE — without
        them every tile column across the raster width would inflate for
        each window (striped layouts span the full width, so column
        pruning cannot apply there)."""
        out = np.zeros((r1 - r0, self.width, self.spp), dtype=np.uint8)
        if self.tiled:
            tw = int(self._scalar(_TAG_TILE_W))
            th = int(self._scalar(_TAG_TILE_H))
            offs = self.tags[_TAG_TILE_OFFSETS]
            cnts = self.tags[_TAG_TILE_COUNTS]
            tiles_across = (self.width + tw - 1) // tw
            lo_t = 0 if c0 is None else max(0, c0 // tw)
            hi_t = (
                tiles_across
                if c1 is None
                else min(tiles_across, (c1 - 1) // tw + 1)
            )
            for trow in range(r0 // th, (r1 - 1) // th + 1):
                for tcol in range(lo_t, hi_t):
                    chunk = self._decode_chunk(
                        trow * tiles_across + tcol, offs, cnts, th, tw
                    )
                    ys = slice(max(r0, trow * th), min(r1, (trow + 1) * th))
                    xs = slice(tcol * tw, min((tcol + 1) * tw, self.width))
                    out[ys.start - r0:ys.stop - r0, xs] = chunk[
                        ys.start - trow * th:ys.stop - trow * th,
                        : xs.stop - xs.start,
                    ]
        else:
            rps = int(self._scalar(_TAG_ROWS_PER_STRIP, self.height))
            offs = self.tags[_TAG_STRIP_OFFSETS]
            cnts = self.tags[_TAG_STRIP_COUNTS]
            for s in range(r0 // rps, (r1 - 1) // rps + 1):
                srow0 = s * rps
                nrows = min(rps, self.height - srow0)
                chunk = self._decode_chunk(s, offs, cnts, nrows, self.width)
                ys = slice(max(r0, srow0), min(r1, srow0 + nrows))
                out[ys.start - r0:ys.stop - r0] = chunk[
                    ys.start - srow0:ys.stop - srow0
                ]
        return out


# --- slippy-map tile windowing ----------------------------------------------


def _tile_bounds_4326(z: int, x: int, y: int):
    n = 2.0 ** z
    west = x / n * 360.0 - 180.0
    east = (x + 1) / n * 360.0 - 180.0
    north = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
    south = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
    return west, south, east, north


_R = 6378137.0


def _to_3857(lng: float, lat: float):
    return (
        math.radians(lng) * _R,
        _R * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)),
    )


def read_tile(tif: TiffFile, z: int, x: int, y: int, tile_px: int = TILE_PX) -> np.ndarray:
    """Nearest-neighbor resample of the source window under slippy tile
    (z, x, y) to (tile_px, tile_px, spp).  Decodes only intersecting
    strips/tiles; out-of-raster pixels are 0."""
    if tif.sx is None:
        raise ValueError("TIFF is not georeferenced")
    if tif.epsg not in (4326, 3857):
        # fail loudly: treating e.g. a UTM raster's bounds as degrees would
        # silently produce wrong/zero pixels
        raise ValueError(
            f"unsupported CRS EPSG:{tif.epsg} (only EPSG:4326 and EPSG:3857)"
        )
    west, south, east, north = _tile_bounds_4326(z, x, y)
    if tif.epsg == 3857:
        (west, north) = _to_3857(west, north)
        (east, south) = _to_3857(east, south)

    # sample positions at output pixel centers, mapped to source pixels
    xs_geo = west + (np.arange(tile_px) + 0.5) * (east - west) / tile_px
    ys_geo = north - (np.arange(tile_px) + 0.5) * (north - south) / tile_px
    cols = np.floor((xs_geo - tif.origin_x) / tif.sx).astype(np.int64)
    rows = np.floor((tif.origin_y - ys_geo) / tif.sy).astype(np.int64)
    # rows and cols are monotone in the output index, so the in-raster
    # samples form one rectangle out[i0:i1, j0:j1]
    i_ok = np.flatnonzero((rows >= 0) & (rows < tif.height))
    j_ok = np.flatnonzero((cols >= 0) & (cols < tif.width))
    out = np.zeros((tile_px, tile_px, tif.spp), dtype=np.uint8)
    if not i_ok.size or not j_ok.size:
        return out
    i0, i1, j0, j1 = i_ok[0], i_ok[-1] + 1, j_ok[0], j_ok[-1] + 1
    rs, cs = rows[i0:i1], cols[j0:j1]
    r0, c0 = int(rs.min()), int(cs.min())
    # only the needed strips decode; in tiled layouts only the needed
    # tile COLUMNS decode as well
    window = tif.read_rows(r0, int(rs.max()) + 1, c0, int(cs.max()) + 1)
    # columns first: the strided column gather then runs over the
    # window's rows, not the output's (np.take is ~10x a 2-D fancy index)
    out[i0:i1, j0:j1] = np.take(np.take(window, cs, axis=1), rs - r0, axis=0)
    return out


def open_tiff(path: str) -> TiffFile:
    """A ``TiffFile`` over ranged reads: ``http(s)://`` URLs through
    ``HttpRangeSource``, local paths (optionally ``file://``) through
    ``FileRangeSource``."""
    if path.startswith(("http://", "https://")):
        return TiffFile(HttpRangeSource(path))
    if path.startswith("file://"):
        path = path[len("file://"):]
    return TiffFile(FileRangeSource(path))


def tif_image_fetcher(imagery: str):
    """GeoTIFF/COG image fetcher: (z, x, y) -> raw (256, 256, spp) uint8
    bytes, channels-last (the reference transposes rio-tiler's output the
    same way, utils.py:55-62).  Each task opens the raster once through
    :func:`open_tiff`: local paths by ``os.pread``, ``http(s)://`` URLs
    by range requests, reading the header, the IFD and only the
    strips/tiles its windows touch, each decoded once while it stays in
    the ``BLOCK_CACHE_BYTES`` LRU.

    ``.vrt`` mosaics, local or remote (accepted by the reference via
    rasterio, utils.py:100), route to the native flat-SimpleSource VRT
    reader (``sources/vrt.py``); VRT features beyond that scope fail
    fast naming the optional dependency."""
    if imagery.lower().split("?")[0].endswith(".vrt"):
        from label_maker_dask_spark.sources.vrt import open_vrt

        vrt = open_vrt(
            imagery[len("file://"):] if imagery.startswith("file://") else imagery
        )

        def fetch_vrt(z: int, x: int, y: int) -> bytes:
            return read_tile(vrt, z, x, y).tobytes()

        return fetch_vrt
    tif = open_tiff(imagery)

    def fetch(z: int, x: int, y: int) -> bytes:
        return read_tile(tif, z, x, y).tobytes()

    return fetch
