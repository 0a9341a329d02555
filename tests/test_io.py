"""IO connector round-trips: CSV/JSON/Parquet scans & sinks, binary-file
reads (SURVEY.md §2.B scans/sinks; sources/io.py)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.sources import io as sio

SF = "/root/testdata/sf0.001"


def canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df.select(cols).collect())


@pytest.fixture()
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def test_csv_round_trip_preserves_values_and_schema(spark, orders, tmp_path):
    path = str(tmp_path / "orders_csv")
    sio.write_table(orders, path, fmt="csv", mode="overwrite")
    back = sio.read_csv(spark, path, schema=orders.schema)
    assert back.schema == orders.schema  # explicit schema, no infer pass
    assert canon(back) == canon(orders)


def test_json_round_trip_preserves_values(spark, orders, tmp_path):
    path = str(tmp_path / "orders_json")
    sio.write_table(orders, path, fmt="json", mode="overwrite")
    back = sio.read_json(spark, path, schema=orders.schema)
    assert canon(back) == canon(orders)


def test_parquet_partitioned_sink_prunes(spark, orders, tmp_path):
    path = str(tmp_path / "orders_part")
    sio.write_table(
        orders, path, mode="overwrite", partition_by=["o_orderstatus"]
    )
    # partition directories exist -> downstream scans prune on the key
    statuses = {
        d.split("=")[1]
        for d in os.listdir(path)
        if d.startswith("o_orderstatus=")
    }
    assert statuses == {
        r["o_orderstatus"]
        for r in orders.select("o_orderstatus").distinct().collect()
    }
    pruned = sio.read_parquet(spark, path).where(F.col("o_orderstatus") == "F")
    # the partition filter must land in the scan's PartitionFilters (files
    # of other statuses are never opened), not as a post-scan filter
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "o_orderstatus" in pf[0]
    assert pruned.count() == orders.where(F.col("o_orderstatus") == "F").count()
    total = sio.read_parquet(spark, path)
    assert total.count() == orders.count()


def test_max_records_per_file_bounds_output_files(spark, orders, tmp_path):
    path = str(tmp_path / "orders_bounded")
    n = orders.count()
    sio.write_table(
        orders.coalesce(1), path, mode="overwrite", max_records_per_file=100
    )
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) >= n // 100  # skew can't emit one giant file


def test_orc_round_trip_preserves_values_and_pushes_down(spark, orders, tmp_path):
    path = str(tmp_path / "orders_orc")
    sio.write_table(orders, path, fmt="orc", mode="overwrite")
    back = sio.read_orc(spark, path)
    assert back.schema == orders.schema
    assert canon(back) == canon(orders)
    # predicate reaches the ORC scan node, like parquet
    plan = (
        back.filter(F.col("o_orderkey") == 1)
        .select("o_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_orderkey), EqualTo(o_orderkey,1)]" in plan


def test_binary_file_read(spark, tmp_path):
    blobs = {"a.png": b"\x89PNG-fake-a", "b.png": b"\x89PNG-fake-b"}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    (tmp_path / "ignore.txt").write_bytes(b"not an image")
    df = sio.read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        assert bytes(rows[name]["content"]) == data
        assert rows[name]["length"] == len(data)


def test_wms_fetcher_parses_leading_query_param():
    """parse_qs must see only the query string: a version/crs appearing as
    the FIRST parameter must not be swallowed by the 'https://host/path?'
    prefix (that bug silently dropped the 1.3.0 axis swap)."""
    from label_maker_dask_spark.sources.imagery import wms_image_fetcher

    f = wms_image_fetcher(
        "https://maps.example.com/wms?version=1.3.0&crs=EPSG:3857&bbox={bbox}"
    )
    assert f.version == "1.3.0"
    assert f.srs == "epsg:3857"
    f2 = wms_image_fetcher(
        "https://maps.example.com/wms?srs=EPSG:3857&bbox={bbox}"
    )
    assert f2.version == "1.1.1"
    assert f2.srs == "epsg:3857"


def test_tms_fetcher_resolves_token_at_plan_time(monkeypatch):
    """{ACCESS_TOKEN} bakes into the closure when the fetcher is BUILT
    (driver/plan time): executors don't inherit driver env on a real
    cluster, so a fetch-time env read would silently 404 there.  The
    env is cleared before the fetch to prove no late read survives."""
    from label_maker_dask_spark.sources.imagery import tms_image_fetcher

    seen = []
    monkeypatch.setenv("ACCESS_TOKEN", "tk.secret")
    f = tms_image_fetcher(
        "https://t.example/{z}/{x}/{y}.png?access_token={ACCESS_TOKEN}",
        http_get=lambda url: (seen.append(url), b"png-bytes")[1],
    )
    monkeypatch.delenv("ACCESS_TOKEN")
    assert f(4, 11, 2) == b"png-bytes"
    assert seen == ["https://t.example/4/11/2.png?access_token=tk.secret"]

    # the scans build their fetcher on the executor from the factory the
    # driver made, so the factory must carry the resolved token
    import requests

    from label_maker_dask_spark.sources.imagery import image_fetcher_factory

    class _Response:
        content = b"png-bytes"

        def raise_for_status(self):
            pass

    monkeypatch.setenv("ACCESS_TOKEN", "tk.secret")
    factory = image_fetcher_factory(
        "https://t.example/{z}/{x}/{y}.png?access_token={ACCESS_TOKEN}"
    )
    monkeypatch.delenv("ACCESS_TOKEN")
    monkeypatch.setattr(
        requests.Session, "get",
        lambda self, url, **kw: (seen.append(url), _Response())[1],
    )
    seen.clear()
    assert factory()(4, 11, 2) == b"png-bytes"
    assert seen == ["https://t.example/4/11/2.png?access_token=tk.secret"]


def test_tms_fetcher_leaves_unknown_placeholders_without_env():
    """Without ACCESS_TOKEN in the env the placeholder survives verbatim
    (the reference's SafeDict semantics, utils.py:130-140)."""
    from label_maker_dask_spark.sources.imagery import tms_image_fetcher

    os.environ.pop("ACCESS_TOKEN", None)
    urls = []
    f = tms_image_fetcher(
        "https://t.example/{z}/{x}/{y}.png?t={ACCESS_TOKEN}",
        http_get=lambda url: (urls.append(url), b"x")[1],
    )
    f(1, 2, 3)
    assert urls == ["https://t.example/1/2/3.png?t={ACCESS_TOKEN}"]
