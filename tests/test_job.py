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
    """fake_features plus the cases the burn must agree on: a feature
    matching two classes, a geometry that is not JSON, and a forced empty
    tile."""
    import json

    def fetch(z, x, y):
        if (x + y) % 7 == 0:
            return []
        feats = fake_features(z, x, y)
        square = {"type": "Polygon", "coordinates": [[
            [1500, 1500], [2500, 1500], [2500, 2500], [1500, 2500], [1500, 1500]
        ]]}
        feats.append({
            "id": 1,
            "geometry_type": "Polygon",
            "geometry": json.dumps(square),
            "properties": {"highway": "primary", "building": "yes"},
        })
        feats.append({
            "id": 2,
            "geometry_type": "Polygon",
            "geometry": '{"type": "Polygon", "coordinates": [[',
            "properties": {"natural": "water"},
        })
        return feats

    return fetch


def test_segmentation_tile_scan_matches_frame_operator(spark):
    """The job's fused tile scan burns every tile byte-for-byte like the
    frame operator over the job's own feature scan, and plans as one
    narrow Python pass: no exchange, no grouped map."""
    from label_maker_dask_spark.labels import segmentation_labels
    from tests.test_plans import plan_of

    job = LabelMakerJob(spark, zoom=15, bounds=LISBON, classes=SEG_CLASSES,
                        ml_type="segmentation",
                        tile_fetcher=_edge_case_fetcher())
    fused = job.labels()
    assert fused.schema.simpleString() == (
        "struct<z:int,x:bigint,y:bigint,label:binary>"
    )
    plan = plan_of(fused)
    assert "Exchange" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "MapInPandas" in plan

    ref = segmentation_labels(job.features(), SEG_CLASSES, tiles=job.tiles())
    got = {(r.z, r.x, r.y): bytes(r.label) for r in fused.collect()}
    want = {(r.z, r.x, r.y): bytes(r.label) for r in ref.collect()}
    assert len(got) == job.n_tiles()
    assert got == want
    rasters = [np.frombuffer(v, dtype=np.uint8) for v in got.values()]
    assert any(not r.any() for r in rasters)           # empty tiles
    assert set(np.unique(np.concatenate(rasters))) == {0, 1, 2, 3}


def test_segmentation_tile_scan_yields_bounded_chunks():
    """One large input Arrow batch comes out as frames of at most 64
    tiles (about 4 MB of rasters), one row per tile."""
    import pandas as pd

    from label_maker_dask_spark.labels import segmentation_tile_scan

    tiles = pd.DataFrame({
        "z": np.full(200, 15, dtype=np.int32),
        "x": np.arange(15000, 15200, dtype=np.int64),
        "y": np.full(200, 12000, dtype=np.int64),
    })
    scan = segmentation_tile_scan(lambda: fake_features, SEG_CLASSES)
    frames = list(scan(iter([tiles])))
    assert all(len(f) <= 64 for f in frames)
    out = pd.concat(frames)
    assert out["x"].tolist() == tiles["x"].tolist()
    assert all(len(b) == 256 * 256 for b in out["label"])
