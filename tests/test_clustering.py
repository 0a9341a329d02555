"""Spherical k-means: convergence on separated blobs + the replay contract
(identical output under different partitionings — the property the DuckDB
oracle hash-match certifies at catalog level)."""

import math

import pytest
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.clustering import spherical_kmeans


def _blobs(spark, n_per=30, dim=8):
    """Three well-separated direction blobs on the unit sphere, built with
    deterministic jitter (no RNG).  Ids interleave the blobs (vec_id % 3 is
    the blob) so the lowest-id seeds span all three — with clean seeds,
    Lloyd's must keep them separated; clustered seeds would legitimately
    land in a local minimum."""
    rows = []
    axes = [0, 3, 6]
    for i in range(n_per):
        for b, axis in enumerate(axes):
            vid = i * 3 + b
            v = [0.0] * dim
            v[axis] = 10.0
            # small deterministic jitter on the other coordinates
            for d in range(dim):
                v[d] += math.sin(0.7 * (vid + 1) * (d + 1)) * 0.3
            rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    df = _blobs(spark)
    out = spherical_kmeans(df, k=3, iters=3).collect()
    assert len(out) == 90
    by_blob = {}
    for r in out:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cluster)
    # each blob lands in exactly one cluster, and the three are distinct
    assert all(len(s) == 1 for s in by_blob.values())
    assert len(set().union(*by_blob.values())) == 3
    # members sit close to their centroid on the sphere
    assert min(r.sim for r in out) > 0.9


def test_kmeans_iter0_is_seed_assignment(spark):
    df = _blobs(spark, n_per=5)
    out = spherical_kmeans(df, k=2, iters=0)
    # seeds are the two lowest ids -> those vectors match their own cell
    own = {r.vec_id: (r.cluster, r.sim) for r in out.collect()}
    assert own[0] == (0, 1.0)
    assert own[1] == (1, 1.0)


def test_kmeans_partition_order_independent(spark):
    df = _blobs(spark)
    a = sorted(
        map(tuple, spherical_kmeans(df.repartition(7), k=3, iters=2).collect())
    )
    b = sorted(
        map(tuple, spherical_kmeans(df.coalesce(1), k=3, iters=2).collect())
    )
    assert a == b


def _kmeans_oracle(df, k, iters, dim):
    """``kmeans_oracle_sql`` in DuckDB over ``df``'s (vec_id, embedding)
    rows; sorted (vec_id, cluster, sim) tuples."""
    import duckdb
    import pyarrow as pa

    from label_maker_dask_spark.queries_relational_ext import kmeans_oracle_sql

    rows = df.collect()
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([r.vec_id for r in rows], pa.int64()),
                "embedding": pa.array(
                    [list(r.embedding) for r in rows], pa.list_(pa.float64())
                ),
            }
        ),
    )
    return sorted(con.execute(kmeans_oracle_sql(k, iters, dim)).fetchall())


def test_kmeans_arrow_twin_bit_identical(spark):
    """Two Lloyd refinements equal the DuckDB replay
    (``kmeans_oracle_sql``) row for row — same clusters, same rounded
    similarities — on the separated blobs and on exactly tied dots: the
    3 lowest ids seed e1, e2, e3; vectors 3 and 4 (e1 + e2) tie between
    cells 0 and 1, vector 5 (e4) ties at dot 0 across all cells, and
    vector 6 (3 * e3) repeats seed 2's direction.  Ties go to the lowest
    cell in both engines."""
    def vec(*axes, scale=1.0):
        return [scale if d in axes else 0.0 for d in range(8)]

    tied = spark.createDataFrame(
        [(i, vec(i)) for i in range(3)]
        + [(3, vec(0, 1)), (4, vec(0, 1)), (5, vec(3)), (6, vec(2, scale=3.0))],
        "vec_id long, embedding array<double>",
    )
    for df, n in ((_blobs(spark), 90), (tied, 7)):
        got = sorted(map(tuple, spherical_kmeans(df, k=3, iters=2).collect()))
        assert got == _kmeans_oracle(df, k=3, iters=2, dim=8) and len(got) == n


def test_kmeans_assignment_is_one_narrow_arrow_pass(spark):
    """Assignment is one ``mapInPandas`` over the working set: the
    centroids are collected while the plan is built, so the returned
    plan has one MapInPandas, no Exchange and no join."""
    df = _blobs(spark, n_per=4)
    plan = (
        spherical_kmeans(df, k=2, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan and "Join" not in plan


@pytest.mark.parametrize("k", [0, -1])
def test_kmeans_rejects_k_below_one_before_any_job(spark, k):
    df = _blobs(spark, n_per=2)
    sc = spark.sparkContext
    sc.setJobGroup("kmeans-bad-k", "k < 1 must fail before any job")
    try:
        with pytest.raises(ValueError, match=f"k={k}"):
            spherical_kmeans(df, k=k)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("kmeans-bad-k") == []


@pytest.mark.parametrize("op", ["phash", "kmeans"])
def test_id_columns_with_spaces_in_their_names(spark, op):
    """The Arrow passes build their output schemas as StructType, so a
    pass-through or id column named ``img id``/``vec id`` (which a DDL
    string would fail to parse) keeps its name and its values."""
    if op == "phash":
        from label_maker_dask_spark.multimodal.phash import (
            gray8_pixels,
            phash63_columns,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        px = emb.select(
            "vec_id", gray8_pixels(F.col("embedding")).alias("px")
        )
        run = lambda d, c: phash63_columns(d, "px").select(c, "phash")  # noqa: E731
        old, new = "vec_id", "img id"
    else:
        px = _blobs(spark, n_per=5)
        run = lambda d, c: spherical_kmeans(d, k=3, iters=1, id_col=c)  # noqa: E731
        old, new = "vec_id", "vec id"
    want = sorted(map(tuple, run(px, old).collect()))
    out = run(px.withColumnRenamed(old, new), new)
    assert out.columns[0] == new
    assert sorted(map(tuple, out.collect())) == want and len(want) > 0


def test_kmeans_persist_caches_working_set(spark):
    """persist=True (default) routes every Lloyd pass through one
    materialized normalized working set — a lazy localCheckpoint, so the
    plan reads Scan ExistingRDD instead of re-deriving unit vectors from
    the source (and the blocks are GC-released, unlike a bare persist);
    persist=False stays materialization-free; both produce identical
    assignments."""
    cached = spherical_kmeans(_blobs(spark), k=3, iters=2)
    # an independent frame so nothing is shared between the two plans
    plain = spherical_kmeans(_blobs(spark), k=3, iters=2, persist=False)
    # the source frame is itself an ExistingRDD (createDataFrame), so the
    # discriminating marker is the unit-normalization expression: the
    # checkpoint swallows it (it runs once, into the materialized RDD),
    # while persist=False re-derives it in-plan for every reference
    cached_plan = cached._jdf.queryExecution().executedPlan().toString()
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in cached_plan
    # centroid re-normalization keeps ONE legitimate copy of the
    # expression in the cached plan; the working-set copies (one per
    # unitv reference) only survive when persist=False
    assert plain_plan.count("SQRT(aggregate(") > cached_plan.count(
        "SQRT(aggregate("
    )
    key = lambda df: sorted((r.vec_id, r.cluster, r.sim) for r in df.collect())  # noqa: E731
    assert key(cached) == key(plain)
