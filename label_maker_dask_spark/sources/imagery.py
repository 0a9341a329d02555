"""Imagery source connectors: TMS / WMS / COG readers as distributed scans.

The reference sniffs the imagery string *per task* (reference main.py:54 →
utils.py:232-238, with ``is_tif`` doing a rasterio open probe each time,
utils.py:209-224).  Here :func:`image_fetcher_factory` sniffs **once at
plan time** on the driver (and checks a WMS source's CRS there) and hands
back the matching reader's constructor, which each scan task calls once.
Two scans use it: :func:`fetch_images`, one ``mapInPandas`` that returns
``(z, x, y, image binary)``, and the job's tile scan
(``labels.tile_labels``), which fetches each tile's image in the same task
that computes its label.  Both return raw bytes; decode is a separate,
optional multimodal step (multimodal/images.py).

Readers require requests (TMS/WMS) or rio-tiler (COG); all optional — tests
inject an ``image_fetcher`` (see ``fake.py``).
"""

from __future__ import annotations

import os
from typing import Callable, Iterator, Optional
from urllib.parse import parse_qs, urlparse

import pandas as pd
from pyspark.sql import DataFrame

from label_maker_dask_spark.tiles import tile_chunks

IMAGES_SCHEMA = "z int, x long, y long, image binary"

# image_fetcher: (z, x, y) -> bytes
ImageFetcher = Callable[[int, int, int], bytes]


def sniff_imagery(imagery: str) -> str:
    """Classify an imagery string as 'tif' | 'wms' | 'tms' (reference
    utils.py:209-238).  Without rasterio we sniff by scheme/extension plus
    TIFF magic bytes for local paths — a plan-time-only heuristic."""
    if _is_tif(imagery):
        return "tif"
    if "{bbox}" in imagery:
        return "wms"
    return "tms"


def _is_tif(imagery: str) -> bool:
    lowered = imagery.lower().split("?")[0]
    if lowered.endswith((".tif", ".tiff", ".vrt")):
        return True
    path = imagery
    if path.startswith("file://"):
        path = path[len("file://"):]
    if os.path.isfile(path):
        try:
            with open(path, "rb") as fh:
                magic = fh.read(4)
            return magic in (b"II*\x00", b"MM\x00*")
        except OSError:
            return False
    return False


def _resolve_token(imagery: str) -> str:
    """The reference's SafeDict ACCESS_TOKEN env passthrough
    (utils.py:130-140, 157-159) — but resolved ONCE, at plan time, on
    the driver: executors are not guaranteed to carry the driver's env
    (a real cluster ships closures, not environments), so the token is
    baked into the template the closure captures instead of read per
    fetch."""
    token = os.environ.get("ACCESS_TOKEN")
    if token:
        imagery = imagery.replace("{ACCESS_TOKEN}", token)
    return imagery


def _template_url(imagery: str, z: int, x: int, y: int) -> str:
    return imagery.format_map(_SafeDict(x=x, y=y, z=z))


class _SafeDict(dict):
    def __missing__(self, key):  # leave unknown {placeholders} intact
        return "{" + key + "}"


def tms_image_fetcher(
    imagery: str, http_get: Optional[Callable[[str], bytes]] = None
) -> ImageFetcher:
    """GET ``{z}/{x}/{y}`` image bytes (reference utils.py:154-163); raw
    bytes out — no PIL decode in the scan.  ``{ACCESS_TOKEN}`` resolves
    from the driver's env at plan time (see ``_resolve_token``).

    ``http_get`` injects the transport (url -> body bytes), same
    contract as ``wms_image_fetcher``: custom auth, a retrying client,
    or the hermetic fixture server of the
    ``raster_tms_window_channel_sums`` gate.  Default is a pooled
    ``requests`` session, imported only when actually needed."""
    imagery = _resolve_token(imagery)
    if http_get is None:
        import requests

        session = requests.Session()

        def http_get(url: str) -> bytes:
            r = session.get(url, timeout=30)
            r.raise_for_status()
            return r.content

    def fetch(z: int, x: int, y: int) -> bytes:
        return http_get(_template_url(imagery, z, x, y))

    return fetch


def wms_image_fetcher(
    imagery: str, http_get: Optional[Callable[[str], bytes]] = None
) -> ImageFetcher:
    """WMS GetMap with the tile's bbox in the requested CRS (reference
    utils.py:176-206).  The bbox is reprojected from WGS84 with a
    densified envelope transform (sources/crs.py — the pure-math twin of
    the reference's rasterio ``transform_bounds(..., densify_pts=21)``,
    utils.py:81-84): EPSG:4326/CRS:84, Web/World Mercator and all UTM
    zones built-in, pyproj for the long tail.  An unsupported CRS raises
    here; :func:`image_fetcher_factory` runs the same check on the driver,
    so a scan fails at plan time, not per task.

    ``http_get`` injects the transport (url -> body bytes): custom auth,
    a retrying client, or a hermetic fixture server (the
    ``raster_wms_window_channel_sums`` gate).  Default is a pooled
    ``requests`` session, imported only when actually needed so the
    injectable path stays dependency-free."""
    from label_maker_dask_spark.sources.crs import project_fn, transform_bounds
    from label_maker_dask_spark.tiles import tile_ul_lat_scalar, tile_ul_lng_scalar

    if http_get is None:
        import requests

        session = requests.Session()

        def http_get(url: str) -> bytes:
            resp = session.get(url, timeout=30)
            resp.raise_for_status()
            return resp.content

    version, srs = _wms_params(imagery)
    # resolved ONCE: per-tile re-resolution would repeat the CRS lookup (a
    # pyproj database hit for the long tail) on every fetch
    project = project_fn(srs)

    def fetch(z: int, x: int, y: int) -> bytes:
        west = tile_ul_lng_scalar(x, z)
        east = tile_ul_lng_scalar(x + 1, z)
        north = tile_ul_lat_scalar(y, z)
        south = tile_ul_lat_scalar(y + 1, z)
        xmin, ymin, xmax, ymax = transform_bounds(
            project, west, south, east, north, densify_pts=21
        )
        # 1.3.0 swaps to axis order per the reference's behavior
        # (utils.py:87-90: unconditional y-first under 1.3.0)
        bbox = (
            [ymin, xmin, ymax, xmax] if version == "1.3.0" else [xmin, ymin, xmax, ymax]
        )
        url = imagery.replace("{bbox}", ",".join(str(b) for b in bbox))
        return http_get(url)

    # expose the parsed protocol params for tests/introspection
    fetch.version = version  # type: ignore[attr-defined]
    fetch.srs = srs  # type: ignore[attr-defined]
    return fetch


def cog_image_fetcher(imagery: str) -> ImageFetcher:
    """GeoTIFF/COG windowed read (reference utils.py:166-173): rio-tiler
    when installed (any CRS, remote COGs); otherwise the dependency-free
    baseline reader (sources/tiff.py — local files, EPSG:4326/3857,
    deflate/predictor, striped or tiled)."""
    try:
        from rio_tiler.io import COGReader  # type: ignore
    except ImportError:
        from label_maker_dask_spark.sources.tiff import tif_image_fetcher

        return tif_image_fetcher(imagery)

    def fetch(z: int, x: int, y: int) -> bytes:
        with COGReader(imagery) as image:
            img = image.tile(x, y, z)
        return img.data.tobytes()

    return fetch


def _wms_params(imagery: str) -> tuple[str, str]:
    """``(version, srs)`` of a WMS GetMap template, lower-cased."""
    # parse only the query string: feeding the full URL to parse_qs would
    # glue "https://host/path?" onto the first parameter's key, silently
    # losing e.g. a leading version=1.3.0 (and with it the axis swap)
    query = parse_qs(urlparse(imagery.lower()).query)
    version = (query.get("version") or ["1.1.1"])[0]
    srs = (query.get("crs" if version == "1.3.0" else "srs") or ["epsg:4326"])[0]
    return version, srs


_FETCHERS = {"tif": cog_image_fetcher, "wms": wms_image_fetcher, "tms": tms_image_fetcher}


def image_fetcher_factory(
    imagery: Optional[str] = None,
    image_fetcher: Optional[ImageFetcher] = None,
) -> Callable[[], ImageFetcher]:
    """Resolve a job's imagery to a fetcher constructor, called once per
    partition on the executor: the injected ``image_fetcher`` (hermetic)
    when given, else the connector :func:`sniff_imagery` picks for
    ``imagery``.  One of the two must be provided.

    The sniff, a WMS source's CRS check and a TMS source's
    ``{ACCESS_TOKEN}`` substitution run here, on the driver: an
    unsupported CRS raises at plan time, and the token reaches executors
    that do not carry the driver's env.  No TIFF is opened here."""
    if image_fetcher is not None:
        return lambda: image_fetcher
    if imagery is None:
        raise ValueError("provide imagery or image_fetcher")
    kind = sniff_imagery(imagery)
    if kind == "wms":
        from label_maker_dask_spark.sources.crs import project_fn

        project_fn(_wms_params(imagery)[1])
    elif kind == "tms":
        imagery = _resolve_token(imagery)
    connector = _FETCHERS[kind]
    return lambda: connector(imagery)


def fetch_images(
    tiles: DataFrame,
    imagery: Optional[str] = None,
    image_fetcher: Optional[ImageFetcher] = None,
) -> DataFrame:
    """Tiles ``(z, x, y)`` -> ``(z, x, y, image binary)`` via one
    ``mapInPandas`` scan; connector chosen at plan time by
    :func:`image_fetcher_factory`.  Output frames hold at most
    ``SCAN_CHUNK_TILES`` tiles, whatever the size of the input Arrow
    batch."""
    factory = image_fetcher_factory(imagery, image_fetcher)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = factory()
        for chunk in tile_chunks(batches):
            out = chunk[["z", "x", "y"]].copy()
            out["image"] = [
                fetch(z, x, y)
                for z, x, y in zip(
                    chunk["z"].tolist(), chunk["x"].tolist(), chunk["y"].tolist()
                )
            ]
            yield out

    return tiles.mapInPandas(scan, schema=IMAGES_SCHEMA)
