"""GeoTIFF reader golden tests: files are written by an independent
test-side TIFF writer (striped/tiled, uncompressed/deflate, predictor),
then read back through sources/tiff.py's windowed tile reads."""

from __future__ import annotations

import math
import struct
import zlib

import numpy as np
import pytest

from label_maker_dask_spark.sources.tiff import (
    TiffFile,
    _tile_bounds_4326,
    read_tile,
    tif_image_fetcher,
)

TILE = (10, 512, 340)  # the slippy tile our test rasters cover exactly


# --- minimal TIFF writer (test-side, independent of the reader) --------------


def write_tiff(
    arr: np.ndarray,
    bounds,
    compression: int = 1,
    predictor: int = 1,
    tiled: bool = False,
    epsg: int = 4326,
) -> bytes:
    h, w, spp = arr.shape
    west, south, east, north = bounds
    sx = (east - west) / w
    sy = (north - south) / h

    def encode(block: np.ndarray) -> bytes:
        if predictor == 2:
            b16 = block.astype(np.int16)
            diff = np.concatenate(
                [b16[:, :1, :], b16[:, 1:, :] - b16[:, :-1, :]], axis=1
            ).astype(np.uint8)
            raw = diff.tobytes()
        else:
            raw = block.tobytes()
        return zlib.compress(raw) if compression in (8, 32946) else raw

    chunks = []
    if tiled:
        tw = th = 32
        for trow in range((h + th - 1) // th):
            for tcol in range((w + tw - 1) // tw):
                block = np.zeros((th, tw, spp), dtype=np.uint8)
                ys = arr[trow * th:(trow + 1) * th, tcol * tw:(tcol + 1) * tw]
                block[: ys.shape[0], : ys.shape[1]] = ys
                chunks.append(encode(block))
    else:
        rps = 16
        for s in range((h + rps - 1) // rps):
            chunks.append(encode(arr[s * rps:(s + 1) * rps]))

    header = struct.pack("<2sHI", b"II", 42, 0)  # IFD offset patched later
    data_start = 8
    offsets, counts = [], []
    pos = data_start
    for c in chunks:
        offsets.append(pos)
        counts.append(len(c))
        pos += len(c)
    body = b"".join(chunks)

    entries = []  # (tag, type, count, values)
    entries.append((256, 4, 1, [w]))
    entries.append((257, 4, 1, [h]))
    entries.append((258, 3, spp, [8] * spp))
    entries.append((259, 3, 1, [compression]))
    entries.append((262, 3, 1, [2 if spp >= 3 else 1]))
    if tiled:
        entries.append((322, 3, 1, [32]))
        entries.append((323, 3, 1, [32]))
        entries.append((324, 4, len(offsets), offsets))
        entries.append((325, 4, len(counts), counts))
    else:
        entries.append((273, 4, len(offsets), offsets))
        entries.append((278, 3, 1, [16]))
        entries.append((279, 4, len(counts), counts))
    entries.append((277, 3, 1, [spp]))
    entries.append((284, 3, 1, [1]))
    if predictor != 1:
        entries.append((317, 3, 1, [predictor]))
    entries.append((33550, 12, 3, [sx, sy, 0.0]))
    entries.append((33922, 12, 6, [0.0, 0.0, 0.0, west, north, 0.0]))
    key_id = 2048 if epsg == 4326 else 3072
    entries.append((34735, 3, 8, [1, 1, 0, 1, key_id, 0, 1, epsg]))
    entries.sort()

    ifd_off = data_start + len(body)
    n = len(entries)
    ext_off = ifd_off + 2 + n * 12 + 4
    ifd = struct.pack("<H", n)
    ext = b""
    type_fmt = {3: "H", 4: "I", 12: "d"}
    type_size = {3: 2, 4: 4, 12: 8}
    for tag, typ, count, values in entries:
        payload = struct.pack("<" + type_fmt[typ] * count, *values)
        if len(payload) <= 4:
            ifd += struct.pack("<HHI", tag, typ, count) + payload.ljust(4, b"\x00")
        else:
            ifd += struct.pack("<HHII", tag, typ, count, ext_off + len(ext))
            ext += payload
    ifd += struct.pack("<I", 0)  # no next IFD
    out = bytearray(header + body + ifd + ext)
    struct.pack_into("<I", out, 4, ifd_off)
    return bytes(out)


@pytest.fixture(scope="module")
def source_array():
    rng = np.random.default_rng(42)
    return rng.integers(0, 255, size=(64, 64, 3), dtype=np.uint8)


def _expected_resample(arr, bounds, z, x, y):
    """Reference nearest-neighbor mapping computed straight from the
    geo math (independent of the reader's internals)."""
    west, south, east, north = bounds
    tw, tsouth, teast, tnorth = _tile_bounds_4326(z, x, y)
    h, w = arr.shape[:2]
    out = np.zeros((256, 256, arr.shape[2]), dtype=np.uint8)
    for i in range(256):
        lat = tnorth - (i + 0.5) * (tnorth - tsouth) / 256
        row = math.floor((north - lat) / ((north - south) / h))
        if not 0 <= row < h:
            continue
        for j in range(256):
            lng = tw + (j + 0.5) * (teast - tw) / 256
            col = math.floor((lng - west) / ((east - west) / w))
            if 0 <= col < w:
                out[i, j] = arr[row, col]
    return out


def test_uncompressed_striped_round_trip(source_array):
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    tif = TiffFile(write_tiff(source_array, bounds))
    assert (tif.width, tif.height, tif.spp) == (64, 64, 3)
    assert tif.epsg == 4326
    got = read_tile(tif, z, x, y)
    np.testing.assert_array_equal(
        got, _expected_resample(source_array, bounds, z, x, y)
    )


def test_compression_variants_decode_identically(source_array):
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    plain = read_tile(TiffFile(write_tiff(source_array, bounds)), z, x, y)
    for kwargs in (
        dict(compression=8),
        dict(compression=8, predictor=2),
        dict(compression=32946, tiled=True),
        dict(tiled=True),
    ):
        got = read_tile(
            TiffFile(write_tiff(source_array, bounds, **kwargs)), z, x, y
        )
        np.testing.assert_array_equal(got, plain)


def test_subtile_window_and_outside_zerofill(source_array):
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    tif = TiffFile(write_tiff(source_array, bounds))
    # one zoom deeper: the NW child covers the raster's top-left quadrant
    child = read_tile(tif, z + 1, 2 * x, 2 * y)
    np.testing.assert_array_equal(
        child, _expected_resample(source_array, bounds, z + 1, 2 * x, 2 * y)
    )
    # a neighboring tile entirely outside the raster is all zeros
    outside = read_tile(tif, z, x + 5, y)
    assert outside.sum() == 0


def test_fetcher_end_to_end(tmp_path, source_array):
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    path = tmp_path / "basemap.tif"
    path.write_bytes(write_tiff(source_array, bounds, compression=8))
    fetch = tif_image_fetcher(str(path))
    raw = fetch(z, x, y)
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(256, 256, 3)
    np.testing.assert_array_equal(
        arr, _expected_resample(source_array, bounds, z, x, y)
    )


def test_unsupported_crs_raises(source_array):
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    tif = TiffFile(write_tiff(source_array, bounds, epsg=32633))  # UTM 33N
    with pytest.raises(ValueError, match="EPSG:32633"):
        read_tile(tif, z, x, y)


# --- remote COG over HTTP (hermetic: local range-serving HTTP server) --------


class _RangeHandler(__import__("http.server", fromlist=["BaseHTTPRequestHandler"]).BaseHTTPRequestHandler):
    """Serves self.server.payload with RFC 7233 single-range support."""

    def do_GET(self):  # noqa: N802 - http.server API
        payload = self.server.payload
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes=") and self.server.honor_range:
            lo_s, hi_s = rng[len("bytes="):].split("-", 1)
            lo = int(lo_s)
            hi = min(int(hi_s) if hi_s else len(payload) - 1, len(payload) - 1)
            body = payload[lo:hi + 1]
            self.send_response(206)
            self.send_header(
                "Content-Range", f"bytes {lo}-{hi}/{len(payload)}"
            )
        else:
            body = payload
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # keep pytest output clean
        pass


@pytest.fixture()
def http_tiff_server():
    import http.server
    import threading

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RangeHandler)
    server.payload = b""
    server.honor_range = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield server
    finally:
        server.shutdown()
        thread.join()


@pytest.fixture(scope="module")
def big_source_array():
    rng = np.random.default_rng(7)
    return rng.integers(0, 255, size=(512, 512, 3), dtype=np.uint8)


def test_http_cog_windowed_read(http_tiff_server, big_source_array):
    """A remote COG read over HTTP must (a) decode identically to the
    local path and (b) NOT download the whole raster for one map tile —
    the windowed-access property that makes COG fan-out cheap."""
    from label_maker_dask_spark.sources.tiff import HttpRangeSource

    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    blob = write_tiff(big_source_array, bounds, tiled=True)
    http_tiff_server.payload = blob
    port = http_tiff_server.server_address[1]
    url = f"http://127.0.0.1:{port}/basemap.tif"

    # block must sit at/below the chunk size for column pruning to skip
    # bytes (the raster's 32 px tiles are ~3 KiB; 64 KiB default blocks
    # would round every pruned gap back in)
    src = HttpRangeSource(url, block=8192)
    tif = TiffFile(src)
    # NW child tile at z+1: needs only the top-left quadrant's tile columns
    child = read_tile(tif, z + 1, 2 * x, 2 * y)
    expected = read_tile(
        TiffFile(write_tiff(big_source_array, bounds, tiled=True)),
        z + 1, 2 * x, 2 * y,
    )
    np.testing.assert_array_equal(child, expected)
    assert src.bytes_fetched < len(blob) / 2, (
        f"windowed read fetched {src.bytes_fetched} of {len(blob)} bytes"
    )
    assert src.requests_made >= 2  # header/IFD + at least one data range


def test_http_cog_server_without_range_support(http_tiff_server, source_array):
    """A server that ignores Range falls back to one full download and
    still decodes correctly."""
    from label_maker_dask_spark.sources.tiff import HttpRangeSource

    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    blob = write_tiff(source_array, bounds, compression=8)
    http_tiff_server.payload = blob
    http_tiff_server.honor_range = False
    port = http_tiff_server.server_address[1]

    src = HttpRangeSource(f"http://127.0.0.1:{port}/basemap.tif")
    got = read_tile(TiffFile(src), z, x, y)
    np.testing.assert_array_equal(
        got, _expected_resample(source_array, bounds, z, x, y)
    )
    assert src.requests_made == 1  # full body cached after first reply


def test_http_fetcher_dispatch(http_tiff_server, source_array):
    """tif_image_fetcher sends http(s) URLs through the range source."""
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    http_tiff_server.payload = write_tiff(source_array, bounds)
    port = http_tiff_server.server_address[1]
    fetch = tif_image_fetcher(f"http://127.0.0.1:{port}/basemap.tif")
    arr = np.frombuffer(fetch(z, x, y), dtype=np.uint8).reshape(256, 256, 3)
    np.testing.assert_array_equal(
        arr, _expected_resample(source_array, bounds, z, x, y)
    )


def _write_vrt_mosaic(tmp_path, arr, bounds, n_split=2):
    """Split ``arr`` into an n_split x n_split grid of real GeoTIFF tiles
    plus the flat-SimpleSource VRT manifest gdalbuildvrt would emit."""
    h, w, spp = arr.shape
    west, south, east, north = bounds
    sx, sy = (east - west) / w, (north - south) / h
    th, tw = h // n_split, w // n_split
    sources = []
    for i in range(n_split):
        for j in range(n_split):
            sub = arr[i * th:(i + 1) * th, j * tw:(j + 1) * tw]
            sub_bounds = (
                west + j * tw * sx, north - (i + 1) * th * sy,
                west + (j + 1) * tw * sx, north - i * th * sy,
            )
            name = f"part_{i}_{j}.tif"
            (tmp_path / name).write_bytes(write_tiff(sub, sub_bounds))
            for b in range(spp):
                sources.append((b, name, j * tw, i * th, tw, th))
    bands = []
    for b in range(spp):
        srcs = "".join(
            f'''<SimpleSource>
      <SourceFilename relativeToVRT="1">{name}</SourceFilename>
      <SourceBand>{bb + 1}</SourceBand>
      <SrcRect xOff="0" yOff="0" xSize="{tw_}" ySize="{th_}"/>
      <DstRect xOff="{dx}" yOff="{dy}" xSize="{tw_}" ySize="{th_}"/>
    </SimpleSource>'''
            for (bb, name, dx, dy, tw_, th_) in sources
            if bb == b
        )
        bands.append(
            f'<VRTRasterBand dataType="Byte" band="{b + 1}">{srcs}</VRTRasterBand>'
        )
    vrt = (
        f'<VRTDataset rasterXSize="{w}" rasterYSize="{h}">'
        f"<SRS>EPSG:4326</SRS>"
        f"<GeoTransform>{west}, {sx}, 0, {north}, 0, {-sy}</GeoTransform>"
        + "".join(bands)
        + "</VRTDataset>"
    )
    path = tmp_path / "mosaic.vrt"
    path.write_text(vrt)
    return str(path)


def test_vrt_mosaic_equals_monolithic_tiff(tmp_path, source_array):
    """A 2x2 VRT mosaic of real GeoTIFF tiles must read pixel-identically
    to the monolithic TIFF over the same extent, through the same
    tif_image_fetcher plan-time dispatch the reference used rasterio for."""
    z, x, y = 15, 16495, 10900
    bounds = _tile_bounds_4326(z, x, y)
    mono = read_tile(TiffFile(write_tiff(source_array, bounds)), z, x, y)

    vrt_path = _write_vrt_mosaic(tmp_path, source_array, bounds)
    fetch = tif_image_fetcher(vrt_path)
    got = np.frombuffer(fetch(z, x, y), dtype=np.uint8).reshape(mono.shape)
    assert np.array_equal(got, mono)


def test_vrt_unsupported_features_fail_fast(tmp_path):
    """Out-of-scope VRT constructs name the optional dependency;
    extensionless XML bytes handed to TiffFile point at the VRT path
    instead of a cryptic byte-order error."""
    import pytest

    from label_maker_dask_spark.sources.vrt import VrtDataset

    complex_src = (
        '<VRTDataset rasterXSize="8" rasterYSize="8">'
        "<GeoTransform>0, 1, 0, 8, 0, -1</GeoTransform>"
        '<VRTRasterBand band="1"><ComplexSource/></VRTRasterBand>'
        "</VRTDataset>"
    )
    with pytest.raises(ValueError, match="rio-tiler"):
        VrtDataset(complex_src)

    resampled = (
        '<VRTDataset rasterXSize="8" rasterYSize="8">'
        "<GeoTransform>0, 1, 0, 8, 0, -1</GeoTransform>"
        '<VRTRasterBand band="1"><SimpleSource>'
        "<SourceFilename>x.tif</SourceFilename>"
        '<SrcRect xOff="0" yOff="0" xSize="4" ySize="4"/>'
        '<DstRect xOff="0" yOff="0" xSize="8" ySize="8"/>'
        "</SimpleSource></VRTRasterBand></VRTDataset>"
    )
    with pytest.raises(ValueError, match="rio-tiler"):
        VrtDataset(resampled)

    xml_as_tiff = b'<VRTDataset rasterXSize="512" rasterYSize="512"/>'
    with pytest.raises(ValueError, match="rio-tiler"):
        TiffFile(xml_as_tiff)


class _MultiFileRangeHandler(_RangeHandler):
    """Serves self.server.files[path] with the same range support."""

    def do_GET(self):  # noqa: N802 - http.server API
        self.server.payload = self.server.files[self.path]
        super().do_GET()


def test_remote_vrt_mosaic_over_http(tmp_path, source_array):
    """A VRT served over HTTP with relative member tiles must read
    pixel-identically to the local mosaic — members fetched through the
    same range-request source remote COGs use."""
    import http.server
    import threading

    z, x, y = 15, 16495, 10900
    bounds = _tile_bounds_4326(z, x, y)
    mono = read_tile(TiffFile(write_tiff(source_array, bounds)), z, x, y)

    vrt_path = _write_vrt_mosaic(tmp_path, source_array, bounds)
    files = {"/mosaic.vrt": (tmp_path / "mosaic.vrt").read_bytes()}
    for f in tmp_path.glob("part_*.tif"):
        files[f"/{f.name}"] = f.read_bytes()

    server = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _MultiFileRangeHandler
    )
    server.files = files
    server.honor_range = True
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/mosaic.vrt"
        fetch = tif_image_fetcher(url)
        got = np.frombuffer(fetch(z, x, y), dtype=np.uint8).reshape(mono.shape)
        assert np.array_equal(got, mono)
    finally:
        server.shutdown()
        thread.join()


# --- engine sink (sources/tiff_write) round-trips through the reader --------


@pytest.mark.parametrize(
    "kw",
    [
        dict(),
        dict(compression=8),
        dict(compression=8, predictor=2),
        dict(tiled=True, compression=8, predictor=2, tile_size=256),
        dict(tiled=True, tile_size=32),
        dict(rows_per_strip=16),
    ],
)
def test_engine_writer_roundtrip(kw):
    """write_geotiff output parses in the from-scratch reader and reads
    back pixel-exact, full-frame and windowed, across layout/compression/
    predictor combinations (the tiled+deflate+predictor case is the COG
    interior shape the catalog gate uses)."""
    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(96, 320, 3), dtype=np.uint8)
    z, x, y = 10, 512, 340
    bounds = _tile_bounds_4326(z, x, y)
    tif = TiffFile(write_geotiff(arr, bounds, **kw))
    assert np.array_equal(tif.read_rows(0, arr.shape[0]), arr)
    # windowed slippy read equals the independent test writer's result
    ref = read_tile(TiffFile(write_tiff(arr, bounds)), z, x, y)
    assert np.array_equal(read_tile(tif, z, x, y), ref)


def test_engine_writer_rejects_bad_input():
    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    arr = np.zeros((16, 16, 1), dtype=np.uint8)
    with pytest.raises(ValueError, match="uint8"):
        write_geotiff(arr.astype(np.uint16), (0, 0, 1, 1))
    with pytest.raises(ValueError, match="compression"):
        write_geotiff(arr, (0, 0, 1, 1), compression=5)
    with pytest.raises(ValueError, match="multiple of 16"):
        write_geotiff(arr, (0, 0, 1, 1), tiled=True, tile_size=20)


# --- decoded-block cache and ranged local reads ------------------------------

#: a raster that does not line up with the slippy grid: z12 tiles
#: straddle each of its edges, and its 32 px blocks do not fill the last
#: block row/column
_SWEEP_Z = TILE[0] + 2


def _sweep_raster(big_source_array):
    west, south, east, north = _tile_bounds_4326(*TILE)
    dx, dy = (east - west) / 7, (north - south) / 5
    arr = np.ascontiguousarray(big_source_array[:200, :240])
    return arr, (west + dx, south + dy, east - dx / 2, north - dy / 3)


def _sweep_tiles():
    """Row-major z12 tiles over TILE's footprint plus a one-tile ring,
    in the order ``tiles_df`` numbers them."""
    _z, x, y = TILE
    return [
        (_SWEEP_Z, xx, yy)
        for yy in range(4 * y - 1, 4 * y + 5)
        for xx in range(4 * x - 1, 4 * x + 5)
    ]


def _window_blocks(shape, bounds, z, x, y, block=32):
    """The 32 px blocks under the bounding box of the raster pixels that
    tile (z, x, y) samples, from the geo math alone."""
    h, w = shape[:2]
    west, south, east, north = bounds
    tw, tsouth, teast, tnorth = _tile_bounds_4326(z, x, y)
    rows = [
        math.floor((north - (tnorth - (i + 0.5) * (tnorth - tsouth) / 256))
                   / ((north - south) / h))
        for i in range(256)
    ]
    cols = [
        math.floor((tw + (j + 0.5) * (teast - tw) / 256 - west)
                   / ((east - west) / w))
        for j in range(256)
    ]
    rows = [r for r in rows if 0 <= r < h]
    cols = [c for c in cols if 0 <= c < w]
    if not rows or not cols:
        return set()
    return {
        (br, bc)
        for br in range(min(rows) // block, max(rows) // block + 1)
        for bc in range(min(cols) // block, max(cols) // block + 1)
    }


@pytest.fixture()
def count_decompress(monkeypatch):
    calls = []
    real = zlib.decompress

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(zlib, "decompress", counting)
    return calls


def test_row_major_sweep_decodes_each_block_once(
    big_source_array, count_decompress
):
    """A row-major sweep through one TiffFile, as one task's tile scan
    does, decompresses each touched block exactly once, although
    neighbouring tiles share blocks."""
    arr, bounds = _sweep_raster(big_source_array)
    tif = TiffFile(write_tiff(arr, bounds, compression=8, tiled=True))
    tiles = _sweep_tiles()
    touched, per_tile = set(), 0
    for t in tiles:
        got = read_tile(tif, *t)
        blocks = _window_blocks(arr.shape, bounds, *t)
        touched |= blocks
        per_tile += len(blocks)
        if t == tiles[7]:  # straddles the raster's north-west corner
            np.testing.assert_array_equal(
                got, _expected_resample(arr, bounds, *t)
            )
    assert len(count_decompress) == len(touched)
    assert len(touched) < per_tile  # the sweep did reuse blocks


def test_block_cache_eviction_keeps_output_identical(
    monkeypatch, big_source_array, count_decompress
):
    """With the bound cut to two blocks the LRU evicts all the time; the
    pixels stay byte-identical and the cache stays within its bound."""
    from label_maker_dask_spark.sources import tiff

    arr, bounds = _sweep_raster(big_source_array)
    blob = write_tiff(arr, bounds, compression=8, tiled=True)
    roomy = TiffFile(blob)
    want = [read_tile(roomy, *t) for t in _sweep_tiles()]
    n_roomy = len(count_decompress)

    bound = 2 * 32 * 32 * 3
    monkeypatch.setattr(tiff, "BLOCK_CACHE_BYTES", bound)
    tight = TiffFile(blob)
    for t, expected in zip(_sweep_tiles(), want):
        np.testing.assert_array_equal(read_tile(tight, *t), expected)
        assert tight._blocks.nbytes <= bound
    assert len(count_decompress) - n_roomy > n_roomy  # it did evict


def test_cached_blocks_are_read_only(source_array):
    """A caller cannot write into a cached block and so corrupt the next
    tile that reads it."""
    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    for kw in (dict(tiled=True), dict(compression=8, predictor=2)):
        tif = TiffFile(write_tiff(source_array, bounds, **kw))
        first = read_tile(tif, z, x, y)
        blocks = [v for v, _n in tif._blocks._items.values()]
        assert blocks and not any(b.flags.writeable for b in blocks)
        with pytest.raises(ValueError):
            blocks[0][0, 0, 0] = 0
        np.testing.assert_array_equal(read_tile(tif, z, x, y), first)


def test_local_tile_read_is_ranged(tmp_path, big_source_array):
    """A local raster is read by range: one map tile reads the header,
    the IFD and its own blocks, not the file."""
    from label_maker_dask_spark.sources.tiff import FileRangeSource, open_tiff

    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    path = tmp_path / "basemap.tif"
    blob = write_tiff(big_source_array, bounds, compression=8, tiled=True)
    path.write_bytes(blob)
    tif = open_tiff(str(path))
    assert isinstance(tif._src, FileRangeSource)
    got = read_tile(tif, z + 2, 4 * x + 1, 4 * y + 2)
    np.testing.assert_array_equal(
        got, read_tile(TiffFile(blob), z + 2, 4 * x + 1, 4 * y + 2)
    )
    assert 0 < tif._src.bytes_fetched < len(blob) / 4


def test_vrt_members_share_one_block_budget(
    monkeypatch, tmp_path, source_array
):
    """Every member a VRT opens decodes into the mosaic's one LRU, so a
    task's decoded blocks stay under one bound however many members it
    touches."""
    from label_maker_dask_spark.sources import tiff
    from label_maker_dask_spark.sources.vrt import open_vrt

    z, x, y = 15, 16495, 10900
    bounds = _tile_bounds_4326(z, x, y)
    mono = read_tile(TiffFile(write_tiff(source_array, bounds)), z, x, y)
    bound = 32 * 16 * 3  # one member strip
    monkeypatch.setattr(tiff, "BLOCK_CACHE_BYTES", bound)
    vrt = open_vrt(_write_vrt_mosaic(tmp_path, source_array, bounds))
    np.testing.assert_array_equal(read_tile(vrt, z, x, y), mono)
    members = list(vrt._open_files.values())
    assert len(members) == 4
    assert all(m._blocks is vrt._blocks for m in members)
    assert vrt._blocks.nbytes <= bound


def test_http_range_cache_is_bounded(
    monkeypatch, http_tiff_server, big_source_array
):
    """The remote source's raw-byte LRU keeps at most RANGE_CACHE_BYTES
    and still decodes identically when it evicts."""
    from label_maker_dask_spark.sources import tiff

    z, x, y = TILE
    bounds = _tile_bounds_4326(z, x, y)
    blob = write_tiff(big_source_array, bounds, compression=8, tiled=True)
    http_tiff_server.payload = blob
    bound = 4 * 8192
    monkeypatch.setattr(tiff, "RANGE_CACHE_BYTES", bound)
    src = tiff.HttpRangeSource(
        f"http://127.0.0.1:{http_tiff_server.server_address[1]}/b.tif",
        block=8192,
    )
    remote, local = TiffFile(src), TiffFile(blob)
    for child in ((0, 0), (1, 1), (0, 1)):
        t = (z + 1, 2 * x + child[0], 2 * y + child[1])
        np.testing.assert_array_equal(read_tile(remote, *t), read_tile(local, *t))
        assert src._blocks.nbytes <= bound
    assert src.bytes_fetched > bound  # eviction was exercised
