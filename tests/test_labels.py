"""Label operators vs hand-computed goldens (reference label.py:10-57)."""

import json

import numpy as np
import pytest
from pyspark.sql import Row

from label_maker_dask_spark.labels import (
    classification_labels,
    detection_labels,
    segmentation_labels,
)

CLASSES = [
    {"name": "Roads", "filter": ["has", "highway"]},
    {"name": "Buildings", "filter": ["has", "building"]},
]


def _poly(x0, y0, x1, y1):
    return json.dumps(
        {"type": "Polygon",
         "coordinates": [[[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]]}
    )


def _features_df(spark):
    rows = [
        # tile (15,0,0): one road, one building
        Row(z=15, x=0, y=0, id=1, geometry_type="Polygon",
            geometry=_poly(1000, 1000, 3000, 2000),
            properties={"highway": "residential"}),
        Row(z=15, x=0, y=0, id=2, geometry_type="Polygon",
            geometry=_poly(100, 100, 500, 500),
            properties={"building": "yes"}),
        # tile (15,2,0): feature matching no class
        Row(z=15, x=2, y=0, id=3, geometry_type="Point",
            geometry=json.dumps({"type": "Point", "coordinates": [2048, 2048]}),
            properties={"natural": "water"}),
    ]
    return spark.createDataFrame(
        rows,
        schema="z int, x long, y long, id long, geometry_type string, "
               "geometry string, properties map<string,string>",
    )


def _tiles_df(spark):
    return spark.createDataFrame(
        [Row(z=15, x=0, y=0), Row(z=15, x=1, y=0), Row(z=15, x=2, y=0)],
        schema="z int, x long, y long",
    )


def test_classification_labels(spark):
    out = classification_labels(_features_df(spark), CLASSES, tiles=_tiles_df(spark))
    got = {(r.z, r.x, r.y): r.label for r in out.collect()}
    assert got[(15, 0, 0)] == [0, 1, 1]   # both classes present
    assert got[(15, 1, 0)] == [1, 0, 0]   # no features -> background
    assert got[(15, 2, 0)] == [1, 0, 0]   # unmatched features -> background


def test_detection_labels_golden(spark):
    out = detection_labels(_features_df(spark), CLASSES, tiles=_tiles_df(spark))
    got = {(r.z, r.x, r.y): r.label for r in out.collect()}
    # feature 1: bounds (1000,1000,3000,2000) -> [58,126,191,197] class 1
    # (hand-computed: px(1000)=62, px(2000)=125, px(3000)=187, ±4 pad)
    b1 = got[(15, 0, 0)][0]
    assert (b1.xmin, b1.ymin, b1.xmax, b1.ymax, b1["class"]) == (58, 126, 191, 197, 1)
    # feature 2: bounds (100,100,500,500) -> px(100)=6, px(500)=31
    # y0=255-31-4=220, y1=255-6+4=253 -> [2,220,35,253] class 2
    b2 = got[(15, 0, 0)][1]
    assert (b2.xmin, b2.ymin, b2.xmax, b2.ymax, b2["class"]) == (2, 220, 35, 253, 2)
    assert got[(15, 1, 0)] == []          # empty tile -> (0,5) analogue
    assert got[(15, 2, 0)] == []          # no matching class


def test_detection_multi_class_feature(spark):
    """A feature matching k classes emits k boxes (reference label.py:124-132),
    ordered feature-major then class index."""
    df = spark.createDataFrame(
        [Row(z=1, x=0, y=0, id=7, geometry_type="Polygon",
             geometry=_poly(1000, 1000, 3000, 2000),
             properties={"highway": "primary", "building": "yes"})],
        schema="z int, x long, y long, id long, geometry_type string, "
               "geometry string, properties map<string,string>",
    )
    out = detection_labels(df, CLASSES).collect()
    label = out[0].label
    assert len(label) == 2
    assert [b["class"] for b in label] == [1, 2]
    assert (label[0].xmin, label[0].ymin) == (label[1].xmin, label[1].ymin)


def test_detection_buffer_expands_bounds(spark):
    classes = [{"name": "Roads", "filter": ["has", "highway"], "buffer": 100.0}]
    df = _features_df(spark).where("id = 1")
    out = detection_labels(df, classes).collect()
    b = out[0].label[0]
    # bounds ±100 -> (900,900,3100,2100): px(900)=56, px(2100)=131,
    # px(3100)=193 -> [52,120,197,203]
    assert (b.xmin, b.ymin, b.xmax, b.ymax, b["class"]) == (52, 120, 197, 203, 1)


def test_segmentation_labels(spark):
    out = segmentation_labels(_features_df(spark), CLASSES, tiles=_tiles_df(spark))
    got = {(r.z, r.x, r.y): np.frombuffer(r.label, dtype=np.uint8).reshape(256, 256)
           for r in out.collect()}
    tile = got[(15, 0, 0)]
    # feature 1 (class 1): tile coords (1000,1000)-(3000,2000) -> pixel
    # x 62..187, y (flipped) 130..193; interior pixel:
    assert tile[160, 120] == 1
    # feature 2 (class 2): (100,100)-(500,500) -> x 6..31, y 224..249
    assert tile[235, 15] == 2
    # outside everything:
    assert tile[5, 200] == 0
    assert got[(15, 1, 0)].sum() == 0     # empty tile -> zero raster
    assert got[(15, 2, 0)].sum() == 0     # unmatched -> zero raster


def test_segmentation_later_class_overwrites(spark):
    """Later (feature, class) burns overwrite earlier ones — rasterize
    REPLACE semantics the reference relies on (label.py:134-152)."""
    df = spark.createDataFrame(
        [Row(z=1, x=0, y=0, id=1, geometry_type="Polygon",
             geometry=_poly(0, 0, 4096, 4096), properties={"highway": "x"}),
         Row(z=1, x=0, y=0, id=2, geometry_type="Polygon",
             geometry=_poly(1000, 1000, 3000, 3000), properties={"building": "y"})],
        schema="z int, x long, y long, id long, geometry_type string, "
               "geometry string, properties map<string,string>",
    )
    out = segmentation_labels(df, CLASSES).collect()
    arr = np.frombuffer(out[0].label, dtype=np.uint8).reshape(256, 256)
    assert arr[128, 128] == 2     # inner polygon wins where it overlaps
    assert arr[10, 10] == 1       # outer-only region keeps class 1
    assert (arr == 0).sum() == 0 or arr[0, 0] in (0, 1)


def test_segmentation_buffer_burn_then_dilate(spark):
    """A buffered segmentation class rasterizes without shapely: the rect
    1024..2048 converts to a 64x64 pixel square, and a 2-px round-cap
    buffer adds exactly 2d(w+h) + 4*Q(2) = 512 + 4 pixels (closed form for
    integer-pixel rectangles)."""
    classes = [{"name": "Roads", "filter": ["has", "highway"], "buffer": 2.0}]
    feats = spark.createDataFrame(
        [Row(z=15, x=0, y=0, id=1, geometry_type="Polygon",
             geometry=_poly(1024, 1024, 2048, 2048),
             properties={"highway": "residential"})],
        schema="z int, x long, y long, id long, geometry_type string, "
               "geometry string, properties map<string,string>",
    )
    out = segmentation_labels(feats, classes).collect()
    arr = np.frombuffer(out[0].label, dtype=np.uint8).reshape(256, 256)
    assert (arr == 1).sum() == 64 * 64 + 2 * 2 * (64 + 64) + 4


def test_detection_emits_empty_label_for_unmatched_tiles(spark):
    """A tile whose features match no class must still produce a row with
    an empty label when tiles=None — the same contract as classification's
    background row (reference label.py:99-109)."""
    from label_maker_dask_spark.labels import detection_labels

    feats = spark.createDataFrame(
        [
            (1, 2, 3, 10, "Point",
             '{"type": "Point", "coordinates": [100, 100]}', {"road": "no"}),
        ],
        "z long, x long, y long, id long, geometry_type string, "
        "geometry string, properties map<string,string>",
    )
    classes = [{"name": "roads", "filter": ["==", "road", "yes"]}]
    rows = detection_labels(feats, classes).collect()
    assert len(rows) == 1
    assert rows[0]["label"] == []


def test_segmentation_equal_ids_burn_in_row_order(spark):
    """Features sharing an id burn in row (fetch) order.  With more than
    16 rows in a tile, an unstable sort on the id reorders ties, and the
    class left on an overlapped pixel would be arbitrary."""
    classes = [
        {"name": "A", "filter": ["==", "c", "1"]},
        {"name": "B", "filter": ["==", "c", "2"]},
        {"name": "C", "filter": ["==", "c", "3"]},
    ]
    rows = [
        Row(z=15, x=0, y=0, id=[2, 1, 0][k % 3], geometry_type="Polygon",
            geometry=_poly(1000 + 10 * k, 1000, 3000, 3000),
            properties={"c": str(1 + k // 3 % 3)})
        for k in range(18)
    ]
    feats = spark.createDataFrame(
        rows,
        schema="z int, x long, y long, id long, geometry_type string, "
               "geometry string, properties map<string,string>",
    ).coalesce(1)
    arr = np.frombuffer(
        segmentation_labels(feats, classes).collect()[0].label, dtype=np.uint8
    ).reshape(256, 256)
    # stable order by id: ids 0 (k=2,5,..,17), 1 (k=1,4,..,16), then
    # 2 (k=0,3,..,15); every polygon covers pixel (128, 150), so the last
    # row with id 2, k=15, decides it
    assert arr[128, 150] == 1 + 15 // 3 % 3
