"""End-to-end LabelMakerJob over hermetic fake sources (reference
main.py:66-111 protocol parity)."""

import numpy as np
import pytest

from label_maker_dask_spark.job import LabelMakerJob
from label_maker_dask_spark.sources.fake import fake_features, fake_image_bytes

LISBON = [-9.179, 38.708, -9.1195, 38.754]
CLASSES = [
    {"name": "Roads", "filter": ["has", "highway"]},
    {"name": "Buildings", "filter": ["has", "building"]},
]


def _job(spark, ml_type="classification"):
    return LabelMakerJob(
        spark,
        zoom=15,
        bounds=LISBON,
        classes=CLASSES,
        ml_type=ml_type,
        tile_fetcher=fake_features,
        image_fetcher=fake_image_bytes,
    )


def test_n_tiles_without_build(spark):
    # unlike the reference (main.py:101-107), n_tiles needs no build step
    job = _job(spark)
    assert job.n_tiles() > 0


def test_classification_end_to_end(spark):
    job = _job(spark)
    df = job.build_job()
    rows = job.execute_job()
    assert len(rows) == job.n_tiles()
    assert set(df.columns) == {"z", "x", "y", "label", "image"}
    for r in rows:
        assert len(r.label) == len(CLASSES) + 1
        assert all(v in (0, 1) for v in r.label)
        # background XOR any class (reference label.py:119-120)
        assert (r.label[0] == 1) == (sum(r.label[1:]) == 0)
        assert len(r.image) == 256 * 256 * 3


def test_execute_records_observed_metrics(spark, tmp_path):
    """execute_job records accumulator-backed observe() metrics during
    the action (no second scan): row count and non-null image count —
    on both the write path and the collect path."""
    job = _job(spark)
    rows = job.execute_job()
    assert job.metrics == {
        "rows_written": len(rows),
        "tiles_with_image": len(rows),
    }
    job2 = _job(spark)
    job2.execute_job(path=str(tmp_path / "out"))
    assert job2.metrics["rows_written"] == job2.n_tiles()


def test_object_detection_end_to_end(spark):
    job = _job(spark, "object-detection")
    rows = job.execute_job()
    assert len(rows) == job.n_tiles()
    for r in rows:
        for b in r.label:
            assert 0 <= b.xmin <= b.xmax <= 255
            assert 0 <= b.ymin <= b.ymax <= 255
            assert b["class"] in (1, 2)


def test_segmentation_end_to_end(spark):
    job = _job(spark, "segmentation")
    rows = job.execute_job()
    assert len(rows) == job.n_tiles()
    seen = set()
    for r in rows:
        arr = np.frombuffer(r.label, dtype=np.uint8)
        assert arr.shape == (256 * 256,)
        seen.update(np.unique(arr).tolist())
    assert seen <= {0, 1, 2} and len(seen) > 1


def test_write_path(spark, tmp_path):
    job = _job(spark)
    out = str(tmp_path / "results")
    job.execute_job(path=out)
    back = spark.read.parquet(out)
    assert back.count() == job.n_tiles()


def test_determinism(spark):
    a = {(r.z, r.x, r.y): (r.label, r.image) for r in _job(spark).execute_job()}
    b = {(r.z, r.x, r.y): (r.label, r.image) for r in _job(spark).execute_job()}
    assert a == b


def test_bad_ml_type(spark):
    with pytest.raises(ValueError):
        LabelMakerJob(spark, 15, LISBON, CLASSES, ml_type="nope",
                      tile_fetcher=fake_features)


def test_inverted_bounds_rejected(spark):
    with pytest.raises(ValueError, match="invalid bounds"):
        LabelMakerJob(spark, 15, [-9.11, 38.72, -9.18, 38.75], CLASSES,
                      tile_fetcher=fake_features).n_tiles()


def test_empty_classes_background_only(spark):
    job = LabelMakerJob(spark, 15, [-9.13, 38.72, -9.125, 38.725], [],
                        tile_fetcher=fake_features)
    rows = job.execute_job()
    assert rows and all(r.label == [1] for r in rows)


def test_json_string_filters(spark):
    job = LabelMakerJob(spark, 15, [-9.13, 38.72, -9.125, 38.725],
                        [{"name": "R", "filter": '["has","highway"]'}],
                        tile_fetcher=fake_features)
    rows = job.execute_job()
    assert rows and all(len(r.label) == 2 for r in rows)


SEG_CLASSES = [
    {"name": "Roads", "filter": ["has", "highway"]},
    {"name": "Buildings", "filter": ["has", "building"], "buffer": 2.0},
    {"name": "Water", "filter": ["==", "natural", "water"]},
]


def _edge_case_fetcher():
    """fake_features plus the cases the fused scan must agree on with the
    frame operators: a forced empty tile, a feature matching two classes,
    a geometry that is not JSON, two features with equal ids (the second
    one's box sorts first), a null id and a geometry with no coordinate
    pairs."""
    import json

    def polygon(x0, y0, x1, y1):
        return json.dumps({"type": "Polygon", "coordinates": [[
            [x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]
        ]]})

    def fetch(z, x, y):
        if (x + y) % 7 == 0:
            return []
        feats = fake_features(z, x, y)
        feats.append({
            "id": 1,
            "geometry_type": "Polygon",
            "geometry": polygon(1500, 1500, 2500, 2500),
            "properties": {"highway": "primary", "building": "yes"},
        })
        feats.append({
            "id": 1,
            "geometry_type": "Polygon",
            "geometry": polygon(200, 200, 600, 600),
            "properties": {"natural": "water"},
        })
        feats.append({
            "id": 2,
            "geometry_type": "Polygon",
            "geometry": '{"type": "Polygon", "coordinates": [[',
            "properties": {"natural": "water"},
        })
        feats.append({
            "id": None,
            "geometry_type": "LineString",
            "geometry": json.dumps({"type": "LineString", "coordinates": [
                [3000, 100], [3900, 900]
            ]}),
            "properties": {"highway": "residential"},
        })
        feats.append({
            "id": 3,
            "geometry_type": "Polygon",
            "geometry": json.dumps({"type": "Polygon", "coordinates": []}),
            "properties": {"building": "house"},
        })
        return feats

    return fetch


def _executed_plan(df) -> str:
    """The physical plan's tree, one node a line."""
    return df._jdf.queryExecution().executedPlan().treeString()


FRAME_OPERATORS = {
    "classification": "classification_labels",
    "object-detection": "detection_labels",
    "segmentation": "segmentation_labels",
}
LABEL_TYPES = {
    "classification": "array<int>",
    "object-detection": (
        "array<struct<xmin:int,ymin:int,xmax:int,ymax:int,class:int>>"
    ),
    "segmentation": "binary",
}
EMPTY_LABELS = {
    "classification": [1],
    "object-detection": [],
    "segmentation": bytes(256 * 256),
}


def _cell(v):
    """A collected label or image as a comparable value."""
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    return [tuple(b) if hasattr(b, "asDict") else b for b in v]


@pytest.mark.parametrize(
    "ml_type,imagery,classes",
    [(m, i, SEG_CLASSES) for m in FRAME_OPERATORS for i in (False, True)]
    + [(m, False, []) for m in FRAME_OPERATORS],
    ids=lambda v: (
        v if isinstance(v, str)
        else ("imagery" if v else "no-imagery") if isinstance(v, bool)
        else f"{len(v)}-classes"
    ),
)
def test_tile_scan_matches_frame_operator(spark, ml_type, imagery, classes):
    """The job's fused tile scan gives, for every ml_type with and without
    imagery, the rows of the frame operator over the job's own feature
    scan (joined to the image scan), and plans as one narrow Python pass:
    no exchange, no join, no broadcast."""
    from label_maker_dask_spark import labels
    from label_maker_dask_spark.sources.imagery import fetch_images

    job = LabelMakerJob(spark, zoom=15, bounds=LISBON, classes=classes,
                        ml_type=ml_type, tile_fetcher=_edge_case_fetcher(),
                        image_fetcher=fake_image_bytes if imagery else None)
    fused = job.build_job()
    cols = "struct<z:int,x:bigint,y:bigint,label:%s%s>" % (
        LABEL_TYPES[ml_type], ",image:binary" if imagery else ""
    )
    assert fused.schema.simpleString() == cols

    frame_operator = getattr(labels, FRAME_OPERATORS[ml_type])
    ref = frame_operator(job.features(), classes, tiles=job.tiles())
    if imagery:
        ref = ref.join(
            fetch_images(job.tiles(), image_fetcher=fake_image_bytes),
            ["z", "x", "y"],
        )
    got = {(r.z, r.x, r.y): tuple(map(_cell, r[3:])) for r in fused.collect()}
    want = {(r.z, r.x, r.y): tuple(map(_cell, r[3:])) for r in ref.collect()}
    assert len(got) == job.n_tiles()
    assert got == want

    plan = _executed_plan(fused)
    for node in ("Exchange", "Join", "BroadcastExchange"):
        assert node not in plan
    assert plan.count("MapInPandas") == 1

    labels_seen = [v[0] for v in got.values()]
    if not classes:
        assert all(v == EMPTY_LABELS[ml_type] for v in labels_seen)
    elif ml_type == "segmentation":
        rasters = [np.frombuffer(v, dtype=np.uint8) for v in labels_seen]
        assert any(not r.any() for r in rasters)           # empty tiles
        assert set(np.unique(np.concatenate(rasters))) == {0, 1, 2, 3}
    elif ml_type == "object-detection":
        # the equal-id pair sorts by its boxes, against fetch order, and
        # the geometry with no coordinate pairs boxes to the clamp's corner
        water, square = (8, 214, 41, 247, 3), (89, 95, 160, 166, 1)
        assert any(
            water in v and v.index(water) < v.index(square)
            and (255, 255, 255, 255, 2) in v
            for v in labels_seen
        )
    if imagery:
        assert all(len(v[1]) == 256 * 256 * 3 for v in got.values())


class _CaptureScan:
    """Stands in for a tile frame: hands back the function a scan passes
    to ``mapInPandas``, so it can run on pandas frames without Spark."""

    def select(self, *cols):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def _tile_scan():
    from label_maker_dask_spark.labels import tile_scan

    return tile_scan("segmentation", SEG_CLASSES, lambda: fake_features,
                     lambda: fake_image_bytes)


def _image_scan():
    from label_maker_dask_spark.sources.imagery import fetch_images

    return fetch_images(_CaptureScan(), image_fetcher=fake_image_bytes)


@pytest.mark.parametrize("make_scan", [_tile_scan, _image_scan],
                         ids=["tile_scan", "fetch_images"])
def test_scan_yields_bounded_chunks(make_scan):
    """One large input Arrow batch comes out as frames of at most 64
    tiles (4 MB of rasters, 12.5 MB of images), one row per tile, in
    input order."""
    import pandas as pd

    tiles = pd.DataFrame({
        "z": np.full(200, 15, dtype=np.int32),
        "x": np.arange(15000, 15200, dtype=np.int64),
        "y": np.full(200, 12000, dtype=np.int64),
    })
    frames = list(make_scan()(iter([tiles])))
    assert all(len(f) <= 64 for f in frames)
    out = pd.concat(frames)
    assert out["x"].tolist() == tiles["x"].tolist()
    assert all(len(b) == 256 * 256 * 3 for b in out["image"])


def test_unsupported_wms_crs_fails_at_plan_time(spark):
    """An unsupported WMS CRS raises ValueError while the plan is built,
    from fetch_images and from the job constructor, with no Spark job
    run."""
    from label_maker_dask_spark.sources.imagery import fetch_images
    from label_maker_dask_spark.tiles import tiles_df

    wms = "http://h/wms?service=WMS&version=1.1.1&srs=EPSG:99999&bbox={bbox}"
    sc = spark.sparkContext
    sc.setJobGroup("wms-crs-plan-time", "wms-crs-plan-time")
    try:
        with pytest.raises(ValueError, match="unsupported WMS CRS"):
            fetch_images(tiles_df(spark, LISBON, 15), imagery=wms)
        with pytest.raises(ValueError, match="unsupported WMS CRS"):
            LabelMakerJob(spark, 15, LISBON, CLASSES, imagery=wms,
                          tile_fetcher=fake_features)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("wms-crs-plan-time") == []


def _nn_resample(full, bounds, z, x, y):
    """Nearest-neighbour 256x256 resample of a decoded raster under slippy
    tile (z, x, y), sampled at pixel centres; pixels off the raster are
    0.  Plain geo math over the whole array, no windowing."""
    h, w = full.shape[:2]
    west, south, east, north = bounds
    n = 2.0 ** z
    t_west, t_east = x / n * 360.0 - 180.0, (x + 1) / n * 360.0 - 180.0
    t_north, t_south = (
        np.degrees(np.arctan(np.sinh(np.pi * (1 - 2 * v / n))))
        for v in (y, y + 1)
    )
    centre = np.arange(256) + 0.5
    col = np.floor(
        (t_west + centre * (t_east - t_west) / 256 - west) / ((east - west) / w)
    ).astype(int)
    row = np.floor(
        (north - (t_north - centre * (t_north - t_south) / 256))
        / ((north - south) / h)
    ).astype(int)
    ok = ((row >= 0) & (row < h))[:, None] & ((col >= 0) & (col < w))[None, :]
    out = np.zeros((256, 256, full.shape[2]), dtype=np.uint8)
    out[ok] = full[np.clip(row, 0, h - 1)][:, np.clip(col, 0, w - 1)][ok]
    return out, ok


@pytest.mark.parametrize(
    "layout",
    [
        dict(tiled=True, tile_size=64, compression=8),
        dict(rows_per_strip=16, compression=8, predictor=2),
    ],
    ids=["tiled-deflate", "striped-predictor2"],
)
def test_job_reads_on_disk_geotiff(spark, tmp_path, layout):
    """A classification job over a real GeoTIFF on disk (not an injected
    fetcher): every tile's image equals a nearest-neighbour resample of
    the raster's full decode, including the tiles that straddle its
    edges.  The raster sits inside the job's bounds, so the outer tiles
    are part raster, part zero fill."""
    from label_maker_dask_spark.sources.tiff import TiffFile
    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    rng = np.random.default_rng(11)
    arr = rng.integers(1, 256, size=(240, 320, 3), dtype=np.uint8)
    bounds = (-9.175, 38.712, -9.125, 38.750)
    blob = write_geotiff(arr, bounds, **layout)
    path = tmp_path / "basemap.tif"
    path.write_bytes(blob)
    full = TiffFile(blob).read_rows(0, arr.shape[0])
    assert np.array_equal(full, arr)

    job = LabelMakerJob(spark, zoom=15, bounds=LISBON, classes=CLASSES,
                        imagery=str(path), tile_fetcher=fake_features)
    rows = job.execute_job()
    assert len(rows) == job.n_tiles() == 36
    straddling = 0
    for r in rows:
        want, ok = _nn_resample(full, bounds, r.z, r.x, r.y)
        assert bytes(r.image) == want.tobytes(), (r.z, r.x, r.y)
        straddling += bool(ok.any() and not ok.all())
    assert straddling >= 12
