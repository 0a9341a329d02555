"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is made here from one integer
seed: the z18 tile block, the MVT label tiles, the GeoTIFF imagery
mosaic and the CDC change log.  The generator also records the facts the
output checks compare against (per-tile class presence, the live table
after each change batch), computed from its own tables and never from
the program's code.

The same seed gives byte-identical inputs (``input_digest``), two seeds
give different ones.
"""

from __future__ import annotations

import hashlib
import io
import math
from dataclasses import dataclass, field
from typing import Dict, Iterator, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from label_maker_dask_spark.sources.mvt_write import encode_mvt
from label_maker_dask_spark.sources.tiff_write import write_geotiff

ZOOM = 18
MVT_EXTENT = 4096
MAX_FEATURES = 6  # features per tile are uniform on 0..MAX_FEATURES
MOSAIC_PX = 2048

# Three GL-filter classes, one of them buffered (segmentation dilates the
# burn by ``buffer`` pixels).
CLASSES = [
    {"name": "building", "filter": ["has", "building"]},
    {
        "name": "road",
        "filter": ["in", "highway", "primary", "residential"],
        "buffer": 3,
    },
    {"name": "water", "filter": ["==", "natural", "water"]},
]

# Property sets a feature draws from, each with the class index (1-based)
# it matches by construction, or 0 for none.  The checks use this table,
# not the program's filter evaluator.
PROPS_POOL: List[Tuple[Dict[str, str], int]] = [
    ({"building": "yes", "height": "12"}, 1),
    ({"building": "house"}, 1),
    ({"highway": "primary", "lanes": "2"}, 2),
    ({"highway": "residential", "name": "First St"}, 2),
    ({"natural": "water"}, 3),
    ({"landuse": "park", "name": "Green"}, 0),
    ({"highway": "footway"}, 0),
]

# CDC log shape
SNAPSHOT_ROWS = 200_000
BATCH_ROWS = 5_000
UPDATE_SHARE, DELETE_SHARE = 0.8, 0.1  # inserts take the rest
CDC_SCHEMA = pa.schema(
    [
        ("k", pa.int64()),
        ("seq", pa.int64()),
        ("v", pa.float64()),
        ("tag", pa.string()),
        ("deleted", pa.bool_()),
    ]
)
CDC_DDL = "k long, seq long, v double, tag string, deleted boolean"


def _tile_lng(x: float, z: int = ZOOM) -> float:
    return x / float(1 << z) * 360.0 - 180.0


def _tile_lat(y: float, z: int = ZOOM) -> float:
    n = math.pi - 2.0 * math.pi * y / float(1 << z)
    return math.degrees(math.atan(math.sinh(n)))


@dataclass(frozen=True)
class Block:
    """A ``side`` x ``side`` block of z18 tiles with its upper-left tile at
    (x0, y0)."""

    x0: int
    y0: int
    side: int
    z: int = ZOOM

    @property
    def n_tiles(self) -> int:
        return self.side * self.side

    def tiles(self) -> List[Tuple[int, int]]:
        return [
            (self.x0 + i, self.y0 + j)
            for j in range(self.side)
            for i in range(self.side)
        ]

    def job_bounds(self) -> List[float]:
        """[west, south, east, north] through the centres of the corner
        tiles, so the job's tile range is exactly this block."""
        return [
            _tile_lng(self.x0 + 0.5),
            _tile_lat(self.y0 + self.side - 0.5),
            _tile_lng(self.x0 + self.side - 0.5),
            _tile_lat(self.y0 + 0.5),
        ]

    def extent(self) -> Tuple[float, float, float, float]:
        """(west, south, east, north) of the whole block, in degrees."""
        return (
            _tile_lng(self.x0),
            _tile_lat(self.y0 + self.side),
            _tile_lng(self.x0 + self.side),
            _tile_lat(self.y0),
        )


def make_block(rng: np.random.Generator, side: int) -> Block:
    """Upper-left tile drawn between 60°S and 60°N, anywhere in longitude."""
    n = 1 << ZOOM

    def y_of(lat: float) -> int:
        s = math.sin(math.radians(lat))
        return int((0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi) * n)

    x0 = int(rng.integers(0, n - side))
    y0 = int(rng.integers(y_of(60.0), y_of(-60.0) - side))
    return Block(x0, y0, side)


def _feature(rng: np.random.Generator, fid: int) -> Tuple[dict, int]:
    props, cls = PROPS_POOL[int(rng.integers(0, len(PROPS_POOL)))]
    kind = int(rng.integers(0, 3))
    cx, cy = (int(v) for v in rng.integers(200, MVT_EXTENT - 200, size=2))
    if kind == 0:
        geom = {"type": "Point", "coordinates": [cx, cy]}
    elif kind == 1:
        dx, dy = (int(v) for v in rng.integers(-800, 800, size=2))
        geom = {"type": "LineString", "coordinates": [[cx, cy], [cx + dx, cy + dy]]}
    else:
        r = int(rng.integers(100, 600))
        ring = [[cx - r, cy - r], [cx + r, cy - r], [cx + r, cy + r],
                [cx - r, cy + r], [cx - r, cy - r]]
        geom = {"type": "Polygon", "coordinates": [ring]}
    return {"id": fid, "geometry": geom, "properties": dict(props)}, cls


@dataclass
class TileFacts:
    """Per-tile facts the output checks compare against."""

    n_features: int
    presence: List[int]  # classification label: [background, c1, c2, c3]

    @property
    def has_match(self) -> bool:
        return self.presence[0] == 0


@dataclass
class JobInputs:
    block: Block
    mvt: Dict[Tuple[int, int], bytes]  # (x, y) -> MVT bytes
    facts: Dict[Tuple[int, int], TileFacts]
    tiff: bytes = b""

    @property
    def empty_tiles(self) -> int:
        return sum(1 for f in self.facts.values() if f.n_features == 0)


def make_job_inputs(seed: int, side: int, imagery: bool) -> JobInputs:
    """The tile block, one MVT blob per tile and, with ``imagery``, the
    GeoTIFF mosaic over the block."""
    rng = np.random.default_rng([seed, 1])
    block = make_block(rng, side)
    mvt: Dict[Tuple[int, int], bytes] = {}
    facts: Dict[Tuple[int, int], TileFacts] = {}
    for xy in block.tiles():
        n = int(rng.integers(0, MAX_FEATURES + 1))
        feats, presence = [], [0] * (len(CLASSES) + 1)
        for i in range(n):
            feat, cls = _feature(rng, i + 1)
            feats.append(feat)
            if cls:
                presence[cls] = 1
        presence[0] = int(not any(presence[1:]))
        mvt[xy] = encode_mvt({"osm": feats}, extent=MVT_EXTENT)
        facts[xy] = TileFacts(n, presence)
    out = JobInputs(block, mvt, facts)
    if imagery:
        out.tiff = make_mosaic(np.random.default_rng([seed, 2]), block)
    return out


def make_mosaic(rng: np.random.Generator, block: Block) -> bytes:
    """A MOSAIC_PX square RGB mosaic over the block: 32-px colour cells
    plus low-amplitude noise, tiled 256 px and deflate-compressed."""
    cells = rng.integers(0, 256, size=(MOSAIC_PX // 32, MOSAIC_PX // 32, 3),
                         dtype=np.uint8)
    arr = np.repeat(np.repeat(cells, 32, axis=0), 32, axis=1)
    arr = arr + rng.integers(0, 16, size=arr.shape, dtype=np.uint8)
    return write_geotiff(arr, block.extent(), compression=8, tiled=True,
                         tile_size=256, epsg=4326)


@dataclass
class CdcLog:
    """The CDC log: a snapshot, then an unbounded, seeded sequence of
    change batches, with the live table it implies after each batch."""

    seed: int
    snapshot_rows: int = SNAPSHOT_ROWS
    batch_rows: int = BATCH_ROWS
    live: Dict[int, Tuple[float, str]] = field(default_factory=dict)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng([self.seed, 3])
        self._keys = np.arange(self.snapshot_rows, dtype=np.int64)
        self._next_key = self.snapshot_rows
        self._seq = 0

    def _table(self, k, v, tag, deleted) -> pa.Table:
        n = len(k)
        seq = np.arange(self._seq, self._seq + n, dtype=np.int64)
        self._seq += n
        for key, val, t, d in zip(k.tolist(), v.tolist(), tag, deleted.tolist()):
            if d:
                self.live.pop(key, None)
            else:
                self.live[key] = (val, t)
        return pa.table(
            [pa.array(k), pa.array(seq), pa.array(v), pa.array(tag),
             pa.array(deleted)],
            schema=CDC_SCHEMA,
        )

    def _values(self, n: int):
        v = self._rng.integers(0, 1_000_000, size=n) / 100.0
        tag = [f"t{int(t)}" for t in self._rng.integers(0, 1000, size=n)]
        return v, tag

    def snapshot(self) -> pa.Table:
        v, tag = self._values(self.snapshot_rows)
        return self._table(self._keys, v, tag,
                           np.zeros(self.snapshot_rows, dtype=bool))

    def batches(self) -> Iterator[pa.Table]:
        """Change batches: UPDATE_SHARE updates and DELETE_SHARE deletes of
        distinct live keys, the rest inserts of new keys."""
        n_upd = int(self.batch_rows * UPDATE_SHARE)
        n_del = int(self.batch_rows * DELETE_SHARE)
        n_ins = self.batch_rows - n_upd - n_del
        while True:
            pick = self._rng.choice(len(self._keys), n_upd + n_del, replace=False)
            upd = self._keys[pick[:n_upd]]
            dele = self._keys[pick[n_upd:]]
            ins = np.arange(self._next_key, self._next_key + n_ins, dtype=np.int64)
            self._next_key += n_ins
            self._keys = np.concatenate([np.delete(self._keys, pick[n_upd:]), ins])
            k = np.concatenate([upd, dele, ins])
            order = self._rng.permutation(len(k))
            v, tag = self._values(len(k))
            deleted = np.zeros(len(k), dtype=bool)
            deleted[n_upd:n_upd + n_del] = True
            yield self._table(k[order], v[order], [tag[i] for i in order],
                              deleted[order])


def parquet_bytes(table: pa.Table) -> bytes:
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def input_digest(seed: int, side: int = 4, batches: int = 2) -> str:
    """SHA-256 over every input byte a seed produces (MVT blobs, GeoTIFF
    mosaic, CDC snapshot and the first ``batches`` change files)."""
    h = hashlib.sha256()
    job = make_job_inputs(seed, side, imagery=True)
    h.update(repr(job.block).encode())
    for xy in sorted(job.mvt):
        h.update(job.mvt[xy])
    h.update(job.tiff)
    log = CdcLog(seed, snapshot_rows=2_000, batch_rows=100)
    h.update(parquet_bytes(log.snapshot()))
    it = log.batches()
    for _ in range(batches):
        h.update(parquet_bytes(next(it)))
    return h.hexdigest()
