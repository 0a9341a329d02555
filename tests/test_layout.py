"""Z-order layout: identical data, measurably better file-level pruning
on the second clustered dimension than a plain first-column sort
(sources/layout.py)."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.sources.layout import write_zordered, zorder_key


@pytest.fixture()
def points(spark):
    # deterministic scatter: two independent-looking 20-bit coordinates
    # from odd-multiplier mixes of the row id (no rand())
    n = 200_000
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") * 2654435761 % 1048576).alias("x"),
            (F.col("id") * 805459861 % 1048576).alias("y"),
        )
    )


def _files_overlapping(path: str, col: str, lo: int, hi: int):
    """Files whose footer min/max for ``col`` intersects [lo, hi] — the
    pruning decision any footer-reading engine makes."""
    total, overlap = 0, 0
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        fmin = min(
            md.row_group(i).column(_col_idx(md, col)).statistics.min
            for i in range(md.num_row_groups)
        )
        fmax = max(
            md.row_group(i).column(_col_idx(md, col)).statistics.max
            for i in range(md.num_row_groups)
        )
        total += 1
        if fmax >= lo and fmin <= hi:
            overlap += 1
    return overlap, total


def _col_idx(md, name: str) -> int:
    schema = md.schema
    for i in range(len(schema)):
        if schema.column(i).name == name:
            return i
    raise KeyError(name)


def test_zorder_prunes_second_dimension(spark, points, tmp_path):
    linear = str(tmp_path / "linear")
    zord = str(tmp_path / "zorder")
    # baseline: the classic single-column sort layout
    (
        points.repartitionByRange(16, F.col("x"))
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    ranges = write_zordered(points, zord, ["x", "y"], bits=10, n_files=16)
    assert ranges["x"][0] >= 0 and ranges["y"][1] <= 1048575

    # same rows either way
    a = spark.read.parquet(linear)
    b = spark.read.parquet(zord)
    # schema unchanged (the Morton key never lands in the file); parquet
    # round-trips relax nullability, so compare names + types
    assert a.schema == b.schema
    assert [(f.name, f.dataType) for f in b.schema] == [
        (f.name, f.dataType) for f in points.schema
    ]
    assert b.count() == points.count()
    assert a.exceptAll(b).count() == 0

    # a y-slice (second dimension, 1/8 of the domain): the x-sorted layout
    # cannot prune a single file; the z-ordered layout prunes most
    lo, hi = 0, 1048576 // 8 - 1
    lin_overlap, lin_total = _files_overlapping(linear, "y", lo, hi)
    z_overlap, z_total = _files_overlapping(zord, "y", lo, hi)
    assert lin_total == z_total == 16
    assert lin_overlap == 16  # plain sort: zero secondary-dim pruning
    assert z_overlap <= 8  # z-order: at least half the files skipped

    # and the engines agree on the answer over the clustered layout
    n_z = b.filter(F.col("y").between(lo, hi)).count()
    n_l = a.filter(F.col("y").between(lo, hi)).count()
    assert n_z == n_l > 0


def test_zorder_key_bit_budget():
    with pytest.raises(ValueError, match="63-bit"):
        zorder_key({"a": (0, 1), "b": (0, 1), "c": (0, 1)}, bits=21)


def test_zorder_key_is_locality_preserving(spark):
    # neighbouring cells in (x, y) must map to nearby keys: the key of
    # (x, y) and (x+1, y) share high bits more often than random pairs —
    # spot-check the interleave structure exactly on a tiny grid
    df = spark.createDataFrame(
        [(x, y) for x in range(4) for y in range(4)], "x long, y long"
    )
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key({"x": (0, 4), "y": (0, 4)}, bits=2).alias("z")
        ).collect()
    }
    # bit interleave of (x, y) with x in even positions, y in odd
    def morton(x, y):
        z = 0
        for i in range(2):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    # ranges (0,4) at bits=2 put value v in cell v exactly
    assert got == {(x, y): morton(x, y) for x in range(4) for y in range(4)}


def test_compact_small_files(spark, tmp_path):
    from label_maker_dask_spark.sources.layout import compact_small_files

    path = str(tmp_path / "frag")
    # 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(path)
    import glob

    before = len(glob.glob(path + "/*.parquet"))
    assert before >= 30
    n = compact_small_files(spark, path, target_file_mb=128)
    after = glob.glob(path + "/*.parquet")
    assert n == 1 and len(after) == 1
    # data intact
    assert (
        spark.read.parquet(path).agg({"id": "sum"}).first()[0]
        == sum(range(4000))
    )
    # no leftover temp dir
    assert not glob.glob(str(tmp_path) + "/*._compacting")


def test_compaction_recovery_states(spark, tmp_path):
    """Interrupted compact_small_files swaps are finishable: a leftover
    ._old proves the ._compacting write completed (promote it when the
    table path is missing); a tmp with no ._old is incomplete (discard)."""
    import os
    import shutil

    from label_maker_dask_spark.sources.layout import compact_small_files
    from label_maker_dask_spark.streaming.commit import recover_swap

    def _recover_compaction(path):
        recover_swap(path + "._compacting", path, path + "._old")

    path = str(tmp_path / "tbl")
    spark.range(100).coalesce(1).write.parquet(path)

    # torn between the two renames: table missing, completed tmp present
    shutil.copytree(path, path + "._compacting")
    os.rename(path, path + "._old")
    _recover_compaction(path)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "._old")
    assert not os.path.exists(path + "._compacting")

    # incomplete tmp, intact table: tmp dropped, table untouched
    shutil.copytree(path, path + "._compacting")
    _recover_compaction(path)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "._compacting")

    # compact_small_files itself recovers on entry from the torn state
    shutil.copytree(path, path + "._compacting")
    os.rename(path, path + "._old")
    n = compact_small_files(spark, path, target_file_mb=128)
    assert n >= 1 and spark.read.parquet(path).count() == 100


def test_fixed_boundary_zorder_appends_bucket_identically(spark, tmp_path):
    """write_zordered_fixed's production claim: a later append buckets by
    the SAME arithmetic (given the same ranges), so new files join
    existing bucket directories instead of overlapping them — and every
    row's stored bucket equals the closed-form top-bits of its
    recomputed Morton key."""
    from label_maker_dask_spark.sources.layout import write_zordered_fixed

    path = str(tmp_path / "zfixed")
    ranges = {"x": (0.0, 1000.0), "y": (0.0, 1000.0)}
    a = spark.range(0, 4000).select(
        F.col("id"),
        (F.col("id") % 997).cast("double").alias("x"),
        ((F.col("id") * 7) % 991).cast("double").alias("y"),
    )
    b = spark.range(4000, 8000).select(
        F.col("id"),
        (F.col("id") % 997).cast("double").alias("x"),
        ((F.col("id") * 7) % 991).cast("double").alias("y"),
    )
    write_zordered_fixed(a, path, ranges, bits=8, n_files=16)
    write_zordered_fixed(b, path, ranges, bits=8, n_files=16, mode="append")

    back = spark.read.parquet(path)
    assert back.count() == 8000
    z = zorder_key(ranges, bits=8)
    mismatched = back.where(
        F.col("zb").cast("long") != F.shiftright(z, 12)
    ).count()
    assert mismatched == 0

    # both writes landed inside the same bucket-directory set: no bucket
    # dir holds rows from only-one-write key ranges that belong elsewhere
    per_bucket = {
        r["zb"]: (r["lo"], r["hi"])
        for r in back.groupBy("zb")
        .agg(F.min(z).alias("lo"), F.max(z).alias("hi"))
        .collect()
    }
    for zb, (lo, hi) in per_bucket.items():
        assert zb * 4096 <= lo <= hi < (zb + 1) * 4096


def test_fixed_boundary_zorder_rejects_bad_file_counts():
    from label_maker_dask_spark.sources.layout import write_zordered_fixed

    with pytest.raises(ValueError, match="power of two"):
        write_zordered_fixed(
            None, "/tmp/never", {"x": (0, 1), "y": (0, 1)}, bits=8, n_files=12
        )
