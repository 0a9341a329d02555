"""Vector-tile label source: fetch + decode as a distributed scan.

The reference does one HTTP GET + protobuf decode per Dask task
(reference main.py:37-44), swallowing *any* exception into an empty tile
(``except: tile_data = {}`` — the error-tolerant scan we must preserve).

Here the fetcher is resolved once on the driver
(:func:`tile_fetcher_factory`) and built once per partition, so the HTTP
session is reused (the reference opens a fresh connection per tile).  Two
narrow scans call it: the job's tile scan (``labels.tile_labels``), which
computes each tile's label from its features in the same task and emits
no feature rows, and :func:`fetch_features`, a ``mapInPandas`` source
stage whose Arrow batches of tile keys fan out to feature rows ``(z, x,
y, id, geometry_type, geometry, properties)`` for the frame operators.
At 1000 executors either is embarrassingly parallel; no shuffle, no
driver involvement.

Decode requires ``mapbox_vector_tile`` and fetch requires ``requests`` —
both optional here; tests inject a ``tile_fetcher`` (see ``fake.py``).
"""

from __future__ import annotations

import json
from typing import Callable, Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame

FEATURES_SCHEMA = (
    "z int, x long, y long, id long, geometry_type string, "
    "geometry string, properties map<string,string>"
)

# tile_fetcher: (z, x, y) -> list of feature dicts
TileFetcher = Callable[[int, int, int], List[dict]]


def decoding_tile_fetcher(
    get_bytes: Callable[[int, int, int], bytes], layer: str = "osm"
) -> TileFetcher:
    """Wrap a raw-bytes getter with the MVT decode (pure-Python,
    ``sources/mvt.py`` — no protobuf package needed), keeping only
    ``layer`` (hardcoded "osm" in the reference, label.py:111).  Any
    error — bad bytes, missing layer, failed fetch — yields an empty
    feature list (reference main.py:42-44 semantics)."""
    from label_maker_dask_spark.sources import mvt

    def fetch(z: int, x: int, y: int) -> List[dict]:
        try:
            decoded = mvt.decode(get_bytes(z, x, y))
            feats = decoded[layer]["features"]
        except Exception:
            # "It is possible to get empty vector tile response" (main.py:43)
            return []
        out = []
        for i, f in enumerate(feats):
            geom = f.get("geometry") or {}
            props = f.get("properties") or {}
            out.append(
                {
                    "id": int(f.get("id") or i),
                    "geometry_type": geom.get("type"),
                    "geometry": json.dumps(geom),
                    "properties": {str(k): str(v) for k, v in props.items()},
                }
            )
        return out

    return fetch


def http_tile_fetcher(label_source: str, layer: str = "osm") -> TileFetcher:
    """Real fetcher: GET ``label_source.format(z=…, x=…, y=…)`` per tile
    with a per-partition session (the reference opens a fresh connection
    per tile), decoded by :func:`decoding_tile_fetcher`."""
    try:
        import requests
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "http_tile_fetcher requires requests; inject a custom "
            "tile_fetcher instead"
        ) from exc

    session = requests.Session()

    def get_bytes(z: int, x: int, y: int) -> bytes:
        r = session.get(label_source.format(x=x, y=y, z=z), timeout=30)
        r.raise_for_status()
        return r.content

    return decoding_tile_fetcher(get_bytes, layer)


def tile_fetcher_factory(
    label_source: Optional[str] = None,
    tile_fetcher: Optional[TileFetcher] = None,
) -> Callable[[], TileFetcher]:
    """Resolve a job's label source to a fetcher constructor, called once
    per partition on the executor: the injected ``tile_fetcher`` (hermetic)
    when given, else :func:`http_tile_fetcher` over ``label_source``.  One
    of the two must be provided."""
    if tile_fetcher is not None:
        return lambda: tile_fetcher
    if label_source is None:
        raise ValueError("provide label_source or tile_fetcher")
    return lambda: http_tile_fetcher(label_source)


def fetch_features(
    tiles: DataFrame,
    label_source: Optional[str] = None,
    tile_fetcher: Optional[TileFetcher] = None,
    batch_size: int = 64,
) -> DataFrame:
    """Tiles ``(z, x, y)`` -> exploded feature rows via ``mapInPandas``.

    The label source is resolved by :func:`tile_fetcher_factory`.
    """
    fetcher_factory = tile_fetcher_factory(label_source, tile_fetcher)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fetch = fetcher_factory()
        for pdf in batches:
            rows: list[dict] = []
            for z, x, y in zip(pdf["z"], pdf["x"], pdf["y"]):
                for f in fetch(int(z), int(x), int(y)):
                    rows.append({"z": int(z), "x": int(x), "y": int(y), **f})
                if len(rows) >= batch_size:
                    yield pd.DataFrame(rows)
                    rows = []
            if rows:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(scan, schema=FEATURES_SCHEMA)
