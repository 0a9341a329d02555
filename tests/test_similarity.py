"""Similarity search: brute-force exactness and LSH bucketing invariants."""

import math

import pytest
from pyspark.sql import Row

from label_maker_dask_spark.operators.similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    lsh_topk,
    srp_bucket,
)

VECS = [
    Row(vec_id=1, embedding=[1.0, 0.0, 0.0, 0.0]),
    Row(vec_id=2, embedding=[0.9, 0.1, 0.0, 0.0]),   # close to 1
    Row(vec_id=3, embedding=[0.0, 1.0, 0.0, 0.0]),   # orthogonal to 1
    Row(vec_id=4, embedding=[-1.0, 0.0, 0.0, 0.0]),  # opposite of 1
    Row(vec_id=5, embedding=[0.5, 0.5, 0.0, 0.0]),
]


def _emb(spark):
    return spark.createDataFrame(
        VECS, schema="vec_id long, embedding array<float>"
    )


def test_cosine_topk_ordering(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb.where("vec_id = 1"), k=4).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)]
    assert ranked == [2, 5, 3, 4]
    sims = {r.neighbor_id: r.cosine_sim for r in out}
    assert abs(sims[2] - 0.9 / math.sqrt(0.82)) < 1e-5
    assert sims[3] == 0.0
    assert sims[4] == -1.0


def test_cosine_topk_excludes_self(spark):
    emb = _emb(spark)
    out = cosine_topk(emb, emb, k=10).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    # every query gets exactly 4 neighbors (corpus of 5, minus self)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert all(len(v) == 4 for v in by_q.values())


def test_srp_bucket_deterministic_and_scale_invariant(spark):
    df = _emb(spark).select("vec_id", srp_bucket(
        __import__("pyspark.sql.functions", fromlist=["col"]).col("embedding"),
        n_planes=8, dim=4).alias("b"))
    b1 = {r.vec_id: r.b for r in df.collect()}
    b2 = {r.vec_id: r.b for r in df.collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())


def test_lsh_topk_subset_of_bruteforce(spark):
    """ANN results must be a subset of the brute-force candidates with
    identical similarity values where reported."""
    emb = _emb(spark)
    queries = emb.where("vec_id = 1")
    exact = {(r.query_id, r.neighbor_id): r.cosine_sim
             for r in cosine_topk(emb, queries, k=4).collect()}
    ann = lsh_topk(emb, queries, k=4, n_planes=4, dim=4).collect()
    for r in ann:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine_sim) < 1e-9


def test_embedding_neardup(spark):
    out = embedding_neardup_pairs(
        _emb(spark), threshold=0.95, n_planes=4, dim=4
    ).collect()
    pairs = {(r.id_a, r.id_b): r.cosine_sim for r in out}
    for (a, b), sim in pairs.items():
        assert sim >= 0.95 and a < b


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF ANN with nprobe=half the cells must recover most of the exact
    top-k set, and every reported neighbor must carry the exact cosine."""
    from label_maker_dask_spark.operators.similarity import ivf_topk
    import label_maker_dask_spark.queries as Q

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id % 13 = 0")
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=4).collect()}
    approx_rows = ivf_topk(emb, queries, k=4, n_cells=8, n_probe=4).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(approx_rows) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"
    # scores for overlapping pairs must match the exact path bit-for-bit
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine_sim
                    for r in cosine_topk(emb, queries, k=4).collect()}
    for r in approx_rows:
        if (r.query_id, r.neighbor_id) in exact_scores:
            assert r.cosine_sim == exact_scores[(r.query_id, r.neighbor_id)]


def test_cosine_topk_tie_break_with_duplicate_vectors(spark):
    """All-identical vectors make every similarity tie: top-k must then be
    the k smallest neighbor ids for every query (the window's tie-break),
    exercising the batch-local combined selection key at its boundary."""
    import pandas as pd
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {"vec_id": list(range(40)), "embedding": [[1.0, 2.0, 3.0]] * 40}
    )
    df = spark.createDataFrame(pdf).repartition(7)
    out = cosine_topk(df, df.where(F.col("vec_id").isin(0, 17, 39)), k=4)
    rows = sorted(out.collect(), key=lambda r: (r.query_id, r.rank))
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.neighbor_id)
    assert by_q[0] == [1, 2, 3, 4]
    assert by_q[17] == [0, 1, 2, 3]
    assert by_q[39] == [0, 1, 2, 3]
    assert all(r.cosine_sim == 1.0 for r in rows)


def test_srp_units_bit_identical_to_expression_form(spark):
    """The Arrow-vectorized srp_units must reproduce the interpreted
    expression form EXACTLY — bucket signs and unit-vector elements — or
    the deterministic-replay oracles stop holding."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        normalized,
        srp_bucket,
        srp_units,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    expr = emb.select(
        F.col("vec_id").alias("id_e"),
        srp_bucket(F.col("embedding")).alias("b_expr"),
    )
    exprv = normalized(emb, "vec_id", "embedding", "id_v", "v_expr")
    fast = srp_units(emb, "id_f", "v_fast")
    rows = (
        fast.join(expr, fast["id_f"] == expr["id_e"])
        .join(exprv, fast["id_f"] == exprv["id_v"])
        .select("id_f", "bucket", "b_expr", "v_fast", "v_expr")
        .collect()
    )
    assert len(rows) > 0
    for r in rows:
        assert r["bucket"] == r["b_expr"], r["id_f"]
        assert list(r["v_fast"]) == list(r["v_expr"]), r["id_f"]  # bitwise


def test_ivf_stored_index_matches_onthefly_and_prunes(spark, tmp_path):
    """The stored IVF index must return the identical result to the
    on-the-fly ivf_topk (same exact-fold arithmetic), and its corpus scan
    must prune non-probed cells at the PARTITION level.  Built in one
    write, or built on the 16 lowest ids' slice with the rest appended:
    the appended rows sit in the delta zone, are read under the same
    cell predicate, and compaction leaves the result unchanged."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import compact_index
    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        ivf_topk,
        ivf_topk_stored,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 25 == 0)
    onthefly = ivf_topk(emb, queries, k=5, n_probe=4)
    b = sorted(map(tuple, onthefly.collect()))
    for appended in (False, True):
        path = str(tmp_path / f"ivf_index_{appended}")
        if appended:
            write_ivf_index(emb.where(F.col("vec_id") < 100), path, n_cells=16)
            append_ivf_index(emb.where(F.col("vec_id") >= 100), path)
        else:
            write_ivf_index(emb, path, n_cells=16)

        stored = ivf_topk_stored(spark, path, queries, k=5, n_probe=4)
        a = sorted(map(tuple, stored.collect()))
        assert a == b and len(a) > 0

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            stored.explain("formatted")
        plan = buf.getvalue()
        assert "PartitionFilters" in plan
        # the cell IN (...) predicate reaches the partition filter, not a
        # post-scan Filter over all cells
        pf_line = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
        assert "cell" in pf_line
        # the delta zone is scanned iff rows were appended
        assert ("_delta" in plan) == appended
        if appended:
            assert compact_index(spark, path) > 0
            again = ivf_topk_stored(spark, path, queries, k=5, n_probe=4)
            assert sorted(map(tuple, again.collect())) == a


def test_query_side_contract_enforced(spark):
    """cosine_topk / ivf_topk collect the query side; a query set past the
    cap must fail fast with an error that points at the scale paths, and
    the guard itself must not collect more than cap+1 rows."""
    import pytest

    from label_maker_dask_spark.operators.similarity import ivf_topk

    emb = _emb(spark)
    big = spark.range(0, 50).selectExpr(
        "id as vec_id", "array(1.0, 0.0, 0.0, 0.0) as embedding"
    )
    for fn in (cosine_topk, ivf_topk):
        with pytest.raises(ValueError, match="lsh_topk"):
            fn(emb, big, k=2, max_queries=10)
    # at or under the cap still works
    out = cosine_topk(emb, big.limit(10), k=2, max_queries=10)
    assert out.count() == 10 * 2


def test_query_side_contract_stored_index(spark, tmp_path):
    import pytest

    from label_maker_dask_spark.operators.similarity import (
        ivf_topk_stored,
        write_ivf_index,
    )

    emb = _emb(spark)
    path = str(tmp_path / "ivf_contract")
    write_ivf_index(emb, path, n_cells=2)
    big = spark.range(0, 50).selectExpr(
        "id as vec_id", "array(1.0, 0.0, 0.0, 0.0) as embedding"
    )
    with pytest.raises(ValueError, match="max_queries"):
        ivf_topk_stored(spark, path, big, k=2, max_queries=10)


def test_neardup_cosine_guard_names_srp_twin(spark):
    """The catalog's all-pairs cosine baseline refuses oversized corpora
    with a signpost to the SRP-bucketed scale path."""
    import pytest
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.guards import ensure_small_input

    big = spark.range(50).select(F.col("id").alias("vec_id"))
    with pytest.raises(ValueError, match="similarity_neardup_srp_ann"):
        ensure_small_input(
            big, 10, "similarity_neardup_cosine",
            "similarity_neardup_srp_ann (similarity.embedding_neardup_pairs)",
        )
    assert ensure_small_input(big, 50, "op", "twin") is big


def test_ivf_append_equals_rebuild_under_same_quantizer(spark, tmp_path):
    """Appending vectors to a stored IVF index (existing centroids, new
    files in cell partitions) must answer queries identically to an index
    built over the full corpus — the initial build holds the lowest-id
    vectors, so a full rebuild seeds the same centroids."""
    import os

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        ivf_topk_stored,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo = emb.where(F.col("vec_id") < 100)   # contains the 16 lowest ids
    hi = emb.where(F.col("vec_id") >= 100)
    queries = emb.where(F.col("vec_id") % 25 == 0)

    inc = str(tmp_path / "incremental")
    write_ivf_index(lo, inc, n_cells=16)
    n_files_before = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(inc + "/data")
    )
    append_ivf_index(hi, inc)
    n_files_after = sum(
        len([f for f in fs if f.endswith(".parquet")])
        for _, _, fs in os.walk(inc + "/data")
    )
    assert n_files_after > n_files_before  # appended, not rewritten

    full = str(tmp_path / "rebuilt")
    write_ivf_index(emb, full, n_cells=16)

    a = sorted(map(tuple, ivf_topk_stored(spark, inc, queries, k=5, n_probe=4).collect()))
    b = sorted(map(tuple, ivf_topk_stored(spark, full, queries, k=5, n_probe=4).collect()))
    assert a == b and len(a) > 0


def _pseudo_uniform_vecs(spark, n, dim=8, offset=0):
    """Deterministic pseudo-uniform vectors (no RNG: hash arithmetic)."""
    rows = [
        (offset + i, [((i * 37 + j * 11) % 97) / 97.0 - 0.5 for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _clustered_vecs(spark, n, center, offset):
    """n vectors packed around ``center`` (spread ~0.3 per dim, wide
    enough that sub-centroids can split the cluster) — the skewed
    append."""
    rows = [
        (
            offset + i,
            [
                c + ((i * 13 + j * 7 + i * j) % 23) / 23.0 * 0.3 - 0.15
                for j, c in enumerate(center)
            ],
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_drift_metric_and_rebalance(spark, tmp_path):
    """10x skewed appends under the frozen quantizer pile into few cells;
    ivf_cell_stats exposes the drift, rebalance_ivf_index splits only the
    oversized cells (untouched cell files are not rewritten), occupancy
    returns to bounded imbalance, and ANN recall vs brute force still
    holds the operator's bound."""
    import os

    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        cosine_topk,
        ivf_cell_stats,
        ivf_topk_stored,
        rebalance_ivf_index,
        write_ivf_index,
    )

    base = _pseudo_uniform_vecs(spark, 160)
    path = str(tmp_path / "ivf")
    write_ivf_index(base, path, n_cells=8)

    center = [((5 * 37 + j * 11) % 97) / 97.0 - 0.5 for j in range(8)]
    append_ivf_index(_clustered_vecs(spark, 1600, center, offset=10_000), path)

    drift = ivf_cell_stats(spark, path)
    assert drift["total"] == 1760
    assert drift["imbalance"] > 3.0 and drift["oversized"]

    untouched = [
        c for c in range(8) if c not in
        {c for c in drift["oversized"]}
    ]
    before = {
        c: sorted(os.listdir(f"{path}/data/cell={c}"))
        for c in untouched
        if os.path.isdir(f"{path}/data/cell={c}")
    }

    split = rebalance_ivf_index(spark, path, threshold=2.0)
    # the first round splits exactly the drifted cells (later rounds may
    # re-split lopsided sub-cells)
    assert set(drift["oversized"]) <= set(split)

    after_stats = ivf_cell_stats(spark, path)
    assert after_stats["total"] == 1760  # no rows lost
    assert after_stats["imbalance"] < drift["imbalance"]
    assert not after_stats["oversized"]  # i.e. max <= 2x mean again
    # only the split cells were rewritten
    for c, files in before.items():
        assert sorted(os.listdir(f"{path}/data/cell={c}")) == files

    # recall bound (the ivf_topk test's bound) still holds post-rebalance
    everything = base.unionByName(
        _clustered_vecs(spark, 1600, center, offset=10_000)
    )
    queries = everything.where("vec_id % 251 = 0")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(everything, queries, k=4).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk_stored(spark, path, queries, k=4, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"recall {recall}"


def test_rebalance_noop_when_balanced(spark, tmp_path):
    from label_maker_dask_spark.operators.similarity import (
        ivf_cell_stats,
        rebalance_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(_pseudo_uniform_vecs(spark, 200), path, n_cells=8)
    assert rebalance_ivf_index(spark, path) == []
    assert ivf_cell_stats(spark, path)["total"] == 200


def test_recover_rolls_back_uncommitted_rebalance(spark, tmp_path):
    """A crash after the set-aside renames but before the commit marker
    must restore the pre-rebalance index exactly."""
    import json
    import os
    import shutil

    from label_maker_dask_spark.operators.similarity import (
        ivf_topk_stored,
        recover_ivf_rebalance,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    emb = _pseudo_uniform_vecs(spark, 200)
    write_ivf_index(emb, path, n_cells=4)
    queries = emb.where("vec_id % 53 = 0")
    want = sorted(
        map(tuple, ivf_topk_stored(spark, path, queries, k=3).collect())
    )

    # simulate the torn swap: cell 2 set aside, bogus replacement moved
    # in, a new cell 9 moved in, plan staged, NO commit marker
    staging = path + "/data._rebal"
    os.makedirs(staging)
    with open(staging + "/_plan", "w") as fh:
        json.dump({"split": [2], "new_cells": [9]}, fh)
    os.rename(f"{path}/data/cell=2", f"{path}/data/cell=2._old")
    shutil.copytree(f"{path}/data/cell=0", f"{path}/data/cell=2")
    shutil.copytree(f"{path}/data/cell=0", f"{path}/data/cell=9")

    recover_ivf_rebalance(path)
    assert not os.path.exists(staging)
    assert not os.path.exists(f"{path}/data/cell=9")
    got = sorted(
        map(tuple, ivf_topk_stored(spark, path, queries, k=3).collect())
    )
    assert got == want


def test_ivf_join_bit_identical_to_broadcast_ivf(spark):
    """The join-based IVF (both sides corpus-sized, no query collect)
    must return exactly the broadcast path's rows under the same
    centroids — including when the query set IS the whole corpus (the
    k-NN-graph shape the broadcast path would cap)."""
    from label_maker_dask_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_join,
    )
    import label_maker_dask_spark.queries as Q

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted(map(tuple, ivf_topk(
        emb, emb, k=4, n_cells=8, n_probe=3, max_queries=100_000
    ).collect()))
    b = sorted(map(tuple, ivf_topk_join(
        emb, emb, k=4, n_cells=8, n_probe=3
    ).collect()))
    assert a == b and len(b) > 0


def test_streaming_ivf_maintenance_exactly_once(spark, tmp_path):
    """The streaming index sink: batches append under the frozen
    quantizer with replay safety, and the maintained index answers
    queries identically to a one-shot append of the same vectors."""
    import time as _time

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        ivf_topk_stored,
        stream_embeddings_to_ivf_index,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo = emb.where(F.col("vec_id") < 100)
    mid = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 300))
    hi = emb.where(F.col("vec_id") >= 300)
    queries = emb.where(F.col("vec_id") % 25 == 0)

    streamed = str(tmp_path / "streamed")
    write_ivf_index(lo, streamed, n_cells=16)
    feed = str(tmp_path / "feed")
    mid.coalesce(1).write.mode("append").parquet(feed)
    _time.sleep(1.1)
    hi.coalesce(1).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_embeddings_to_ivf_index(
        stream, streamed, str(tmp_path / "ck")
    )
    q.awaitTermination(120)

    oneshot = str(tmp_path / "oneshot")
    write_ivf_index(lo, oneshot, n_cells=16)
    append_ivf_index(mid.unionByName(hi), oneshot)

    a = sorted(map(tuple, ivf_topk_stored(spark, streamed, queries, k=5).collect()))
    b = sorted(map(tuple, ivf_topk_stored(spark, oneshot, queries, k=5).collect()))
    assert a == b and len(a) > 0


def test_ivf_append_replay_and_torn_append_recovery(spark, tmp_path):
    """Replaying an applied batch is a no-op; a torn append (intent file
    present, partial files on disk) is cleaned before the re-append, so
    the index never holds a vector twice."""
    import json
    import os
    import shutil

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import read_index
    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index_exactly_once,
        write_ivf_index,
    )
    from label_maker_dask_spark.streaming.commit import inventory

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    write_ivf_index(emb.where(F.col("vec_id") < 100), path, n_cells=8)
    batch = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))

    assert append_ivf_index_exactly_once(batch, path, 0, "r") is True
    n = read_index(spark, path).count()
    assert append_ivf_index_exactly_once(batch, path, 0, "r") is False
    assert read_index(spark, path).count() == n  # no double add

    # simulate the torn append of batch 1: intent written with the
    # CURRENT inventory, then "partial" files appear (copy an existing
    # parquet into two cells), then the crash replay runs
    inv = inventory(path)
    with open(path + "/_lmds_appending", "w") as fh:
        json.dump({"run": "r", "batch": 1, "existing": inv}, fh)
    cells = [c for c, files in inv.items() if any(
        f.endswith(".parquet") for f in files)][:2]
    for c in cells:
        src = next(
            f for f in inv[c] if f.endswith(".parquet")
        )
        shutil.copy(
            os.path.join(path, "data", c, src),
            os.path.join(path, "data", c, "part-torn.parquet"),
        )
    assert read_index(spark, path).count() > n  # corrupted now

    nxt = emb.where((F.col("vec_id") >= 150) & (F.col("vec_id") < 160))
    assert append_ivf_index_exactly_once(nxt, path, 1, "r") is True
    assert read_index(spark, path).count() == n + 10
    assert not os.path.exists(path + "/_lmds_appending")

    import pytest

    with pytest.raises(ValueError, match="different stream run"):
        append_ivf_index_exactly_once(nxt, path, 2, "other-run")


def test_sq8_codes_in_range_constant_dim_zero(spark):
    """SQ8 codes live in [-128, 127]; min encodes to -128, max to 127;
    a constant dimension (mx == mn) encodes to 0."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        sq8_encode,
        sq8_train_ranges,
    )

    rows = [
        Row(vec_id=1, embedding=[0.0, 5.0, -1.0, 7.0]),
        Row(vec_id=2, embedding=[1.0, 5.0, 3.0, -7.0]),
        Row(vec_id=3, embedding=[0.5, 5.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    ranges = sq8_train_ranges(emb)
    coded = {
        r.vec_id: r.code
        for r in sq8_encode(emb, ranges, dim=4).collect()
    }
    for code in coded.values():
        assert all(-128 <= c <= 127 for c in code)
    # dim 0: min holder (vec 1) -> -128, max holder (vec 2) -> 127
    assert coded[1][0] == -128 and coded[2][0] == 127
    # dim 1 constant -> 0 everywhere
    assert all(coded[v][1] == 0 for v in coded)
    # dim 3: min (vec 2) -> -128, max (vec 1) -> 127
    assert coded[2][3] == -128 and coded[1][3] == 127


def test_sq8_quantization_error_within_one_step(spark):
    """Decoding a code to its cell's lower edge is within one quantizer
    step of the original value (uniform-quantizer error bound)."""
    import numpy as np

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        sq8_encode,
        sq8_train_ranges,
    )

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    ranges = sq8_train_ranges(emb)
    mns, mxs = ranges.collect()[0]
    mns, mxs = np.array(mns), np.array(mxs)
    step = (mxs - mns) / 255.0
    for r in sq8_encode(emb, ranges).limit(50).collect():
        orig = np.array(
            emb.where(f"vec_id = {r.vec_id}").collect()[0].embedding,
            dtype=np.float64,
        )
        decoded = mns + (np.array(r.code) + 128) * step
        assert np.all(np.abs(orig - decoded) <= step + 1e-12)


def test_sq8_rescore_ranking_agrees_with_exact_cosine(spark):
    """The int8 rescorer ranks the SAME SRP-bucket candidates as lsh_topk;
    its top-5 per query must substantially overlap the exact-cosine top-5
    over those candidates (quantized dot is a faithful score proxy)."""
    from pyspark.sql import functions as F

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import sq8_rescore_topk

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, emb.where("vec_id % 25 = 0"), k=5).collect()
    }
    approx_rows = sq8_rescore_topk(
        emb, F.col("vec_id") % 25 == 0, k=5
    ).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(approx_rows) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"sq8-vs-exact-cosine candidate recall {recall}"
    # integer scores: rank strictly by (score desc, id asc) within a query
    by_q = {}
    for r in approx_rows:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rank)
        for a, b in zip(rows, rows[1:]):
            assert (a.q8_score, -a.neighbor_id) >= (b.q8_score, -b.neighbor_id)


def test_pq_encoding_shape_and_codebook_bounds(spark):
    """Every vector gets exactly n_sub codes; every code references a
    live codebook entry; codebooks hold at most k entries per subspace."""
    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        pq_encode,
        pq_subvectors,
        pq_train_codebooks,
    )

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    subv = pq_subvectors(emb)
    cb = pq_train_codebooks(subv, k=16)
    codes = pq_encode(subv, cb)
    n_vec = emb.count()
    assert codes.count() == n_vec * 8
    per_vec = codes.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in per_vec] == [8]
    cb_rows = cb.collect()
    per_m = {}
    for r in cb_rows:
        per_m.setdefault(r.m, set()).add(r.code)
        assert 0 <= r.code < 16 and len(r.cu) == 8
    assert set(per_m) == set(range(1, 9))
    assert all(len(s) <= 16 for s in per_m.values())
    # every emitted code exists in its subspace codebook
    live = {(r.m, r.code) for r in cb_rows}
    assert all((r.m, r.code) in live for r in codes.collect())


def test_pq_adc_ranking_agrees_with_exact_cosine(spark):
    """PQ ADC top-5 over SRP candidates must substantially overlap the
    exact-cosine top-5 over the same candidates (16x-compressed codes
    remain a faithful distance proxy on this corpus)."""
    from pyspark.sql import functions as F

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import pq_adc_topk

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in lsh_topk(emb, emb.where("vec_id % 25 = 0"), k=5).collect()
    }
    approx_rows = pq_adc_topk(emb, F.col("vec_id") % 25 == 0, k=5).collect()
    approx = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert len(approx_rows) > 0
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"pq-vs-exact-cosine candidate recall {recall}"
    for r in approx_rows:
        assert r.adc_dist >= 0.0


def test_pq_adc_skips_null_vectors(spark):
    """A NULL embedding is not indexed: training, encoding, candidates
    and queries all leave it out, in the engine and in its DuckDB
    oracle alike.  60 vectors, the 1st and 8th set to NULL."""
    import duckdb
    from pyspark.sql import functions as F

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        pq_adc_oracle_sql,
        pq_adc_topk,
    )

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings").where(
        "vec_id < 60"
    )
    emb = emb.withColumn(
        "embedding",
        F.when(~F.col("vec_id").isin(0, 7), F.col("embedding")),
    )
    got = sorted(
        tuple(r)
        for r in pq_adc_topk(emb, F.col("vec_id") % 5 == 0).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT vec_id, CASE WHEN vec_id IN "
        "(0, 7) THEN NULL ELSE embedding END AS embedding FROM "
        "'/root/testdata/sf0.001/embeddings.parquet' WHERE vec_id < 60"
    )
    want = sorted(
        con.execute(pq_adc_oracle_sql("vec_id % 5 = 0")).fetchall()
    )
    assert got and got == want
    assert not {0, 7} & {i for r in got for i in (r[0], r[2])}


def test_pq_stored_index_matches_onthefly_and_prunes(spark, tmp_path):
    """The stored PQ index returns exactly the on-the-fly results, and the
    code scan carries a bucket partition filter (non-probed buckets never
    leave storage)."""
    from pyspark.sql import functions as F

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        pq_adc_topk,
        pq_adc_topk_stored,
        write_pq_index,
    )

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "pq")
    write_pq_index(emb, path)
    queries = emb.where("vec_id % 25 = 0")
    stored = pq_adc_topk_stored(spark, path, queries, k=5)
    onthefly = pq_adc_topk(emb, F.col("vec_id") % 25 == 0, k=5)
    srows = sorted(map(tuple, stored.collect()))
    orows = sorted(map(tuple, onthefly.collect()))
    assert srows == orows and len(srows) > 0
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "bucket" in plan  # partition filter reaches the scan
    # the sidecar is the (n_sub * n_codes)-row codebook
    cb = spark.read.parquet(path + "/codebook")
    assert cb.count() <= 8 * 16
    # at rest each vector is its 8 codes + bucket, no float vectors
    data = spark.read.parquet(path + "/data")
    assert set(data.columns) == {"vec_id", "codes", "bucket"}


def test_pq_arrow_assignment_bit_identical_to_expression(spark):
    """PQ assignment must equal the DuckDB training/encoding CTEs every
    PQ catalog oracle replays (``_pq_train_ctes_sql``): the seed
    assignment (``a0``) and the encode under refined codebooks
    (``codes``) on real embeddings, then a corpus whose lowest ids seed
    two identical codebook entries (an exact tie, broken to the lowest
    code in both engines), then a hand-built duplicate-entry codebook."""
    import duckdb
    import pyarrow as pa

    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        _pq_assign,
        _pq_train_ctes_sql,
        pq_encode,
        pq_subvectors,
        pq_train_codebooks,
    )

    def oracle(con, cte, *geometry):
        ctes = _pq_train_ctes_sql(*geometry, "TRUE", "TRUE")
        sql = f"WITH {ctes} SELECT vec_id, m, code FROM {cte}"
        return sorted(con.execute(sql).fetchall())

    def rows(df):
        return sorted((r.vec_id, r.m, r.code) for r in df.collect())

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        "'/root/testdata/sf0.001/embeddings.parquet'"
    )
    subv = pq_subvectors(emb)
    seed = rows(_pq_assign(subv, pq_train_codebooks(subv, k=16, refine_iters=0)))
    assert seed == oracle(con, "a0", 8, 8, 16, 64)
    assert len(seed) == emb.count() * 8
    enc = rows(pq_encode(subv, pq_train_codebooks(subv, k=16)))
    assert enc == oracle(con, "codes", 8, 8, 16, 64)

    # seeded tie: ids 1 and 2 seed identical entries (codes 0 and 1)
    tied = [(1, [0.0] * 8), (2, [0.0] * 8), (3, [9.0] * 8), (7, [0.0] * 8)]
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in tied], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in tied], pa.list_(pa.float32())
                ),
            }
        ),
    )
    tsub = pq_subvectors(
        spark.createDataFrame(tied, "vec_id long, embedding array<float>"),
        n_sub=1,
        sub_dim=8,
    )
    got = rows(_pq_assign(tsub, pq_train_codebooks(tsub, k=3, refine_iters=0)))
    assert got == oracle(con, "a0", 1, 8, 3, 8)
    assert (7, 1, 0) in got

    # constructed tie: two identical codebook entries -> lowest code wins
    dup = spark.createDataFrame(
        [(1, 0, [0.0] * 8), (1, 1, [0.0] * 8), (1, 2, [9.0] * 8)],
        "m int, code int, cu array<double>",
    )
    one = spark.createDataFrame(
        [(7, 1, [0.0] * 8)], "vec_id long, m int, sub array<double>"
    )
    assert rows(_pq_assign(one, dup)) == [(7, 1, 0)]


def test_pq_append_composes_and_replays_exactly_once(spark, tmp_path):
    """Appending in one step vs two sub-batches yields identical stored
    queries (frozen-codebook encode composes); a replayed batch id is
    skipped; a torn append's partial files are removed on replay; a
    foreign run id raises."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        append_pq_index_exactly_once,
        pq_adc_topk_stored,
        write_pq_index,
    )
    from label_maker_dask_spark.streaming.commit import (
        read_state as _ivf_state_read,
        write_state as _ivf_state_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half1 = emb.where(F.col("vec_id") < 250)
    h2a = emb.where((F.col("vec_id") >= 250) & (F.col("vec_id") < 400))
    h2b = emb.where(F.col("vec_id") >= 400)
    queries = emb.where("vec_id % 25 = 0")

    one = str(tmp_path / "one")
    write_pq_index(half1, one)
    append_pq_index(h2a.unionByName(h2b), one)

    two = str(tmp_path / "two")
    write_pq_index(half1, two)
    assert append_pq_index_exactly_once(h2a, two, 1, "run-a")
    assert append_pq_index_exactly_once(h2b, two, 2, "run-a")
    a = sorted(map(tuple, pq_adc_topk_stored(spark, one, queries).collect()))
    b = sorted(map(tuple, pq_adc_topk_stored(spark, two, queries).collect()))
    assert a == b and len(a) > 0

    # replay of an applied batch: skipped, index unchanged
    before = sorted(map(tuple, pq_adc_topk_stored(spark, two, queries).collect()))
    assert not append_pq_index_exactly_once(h2b, two, 2, "run-a")
    after = sorted(map(tuple, pq_adc_topk_stored(spark, two, queries).collect()))
    assert before == after

    # torn append: fake an intent for batch 3 with the CURRENT inventory,
    # then drop an alien partial file into the delta zone; the replay
    # must remove it before re-appending
    from label_maker_dask_spark.streaming.commit import inventory

    _ivf_state_write(
        two, "_lmds_appending",
        {"run": "run-a", "batch": 3,
         "existing": inventory(two)},
    )
    partial = os.path.join(two, "data", "_delta", "part-torn.parquet")
    open(partial, "w").write("junk")
    assert append_pq_index_exactly_once(h2b.limit(0).unionByName(h2a.limit(5)), two, 3, "run-a")
    assert not os.path.exists(partial)

    # foreign run id: batch ids reset with the checkpoint -> refuse
    with _pytest.raises(ValueError, match="different stream run"):
        append_pq_index_exactly_once(h2a, two, 4, "run-b")
    assert _ivf_state_read(two, "_lmds_applied")["run"] == "run-a"


def test_streaming_pq_maintenance_matches_oneshot(spark, tmp_path):
    """The streaming PQ sink equals a one-shot append of the same vectors
    (frozen codebooks, exactly-once batches)."""
    import time as _time

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk_stored,
        stream_embeddings_to_pq_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    lo = emb.where(F.col("vec_id") < 100)
    mid = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") < 300))
    hi = emb.where(F.col("vec_id") >= 300)
    queries = emb.where("vec_id % 25 = 0")

    streamed = str(tmp_path / "streamed")
    write_pq_index(lo, streamed)
    feed = str(tmp_path / "feed")
    mid.coalesce(1).write.mode("append").parquet(feed)
    _time.sleep(1.1)
    hi.coalesce(1).write.mode("append").parquet(feed)
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = stream_embeddings_to_pq_index(stream, streamed, str(tmp_path / "ck"))
    q.awaitTermination(120)

    oneshot = str(tmp_path / "oneshot")
    write_pq_index(lo, oneshot)
    append_pq_index(mid.unionByName(hi), oneshot)

    a = sorted(map(tuple, pq_adc_topk_stored(spark, streamed, queries).collect()))
    b = sorted(map(tuple, pq_adc_topk_stored(spark, oneshot, queries).collect()))
    assert a == b and len(a) > 0


def test_pq_compaction_folds_delta_and_recovers(spark, tmp_path):
    """compact_index folds the delta zone into bucket partitions with
    identical query results; a torn fold (intent present, partial base
    files) rolls back and reruns; a torn delete (completion record
    present) finishes idempotently."""
    import os

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import compact_index
    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk_stored,
        write_pq_index,
    )
    from label_maker_dask_spark.streaming.commit import (
        inventory,
        read_state as _ivf_state_read,
        write_state as _ivf_state_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 25 = 0")
    idx = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") < 300), idx)
    append_pq_index(emb.where(F.col("vec_id") >= 300), idx)
    assert inventory(idx)["_delta"]  # delta zone populated

    before = sorted(map(tuple, pq_adc_topk_stored(spark, idx, queries).collect()))
    n = compact_index(spark, idx)
    assert n > 0
    assert not inventory(idx).get("_delta")
    after = sorted(map(tuple, pq_adc_topk_stored(spark, idx, queries).collect()))
    assert before == after and len(after) > 0
    assert compact_index(spark, idx) == 0  # nothing left to fold

    # torn fold: append more, then fake an intent + alien base partial
    append_pq_index(emb.where(F.col("vec_id") < 50), idx)
    _ivf_state_write(
        idx, "_lmds_compacting",
        {"existing": inventory(idx)},
    )
    bdir = next(
        d for d in os.listdir(os.path.join(idx, "data"))
        if d.startswith("bucket=")
    )
    partial = os.path.join(idx, "data", bdir, "part-torn.parquet")
    open(partial, "w").write("junk")
    assert compact_index(spark, idx) > 0  # recovery removed the partial
    assert not os.path.exists(partial)

    # torn delete: completion record listing a still-present delta file
    append_pq_index(emb.where(F.col("vec_id") < 20), idx)
    leftover = inventory(idx)["_delta"]
    _ivf_state_write(idx, "_lmds_compacted", {"deltas": leftover})
    compact_index(spark, idx)  # recovers on entry
    assert not inventory(idx).get("_delta")
    assert _ivf_state_read(idx, "_lmds_compacted") is None


def test_pq_compaction_refuses_pending_append_intent(spark, tmp_path):
    """compact_index must REFUSE while an append intent is pending: a
    crashed streaming append may have left partial delta files, and
    folding them into the base partitions would put them beyond the
    replay bracket's rollback (which only removes delta files absent
    from its pre-append inventory) — the replayed re-append would then
    duplicate the partially-applied vectors in query results."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import compact_index
    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        append_pq_index_exactly_once,
        write_pq_index,
    )
    from label_maker_dask_spark.streaming.commit import (
        inventory,
        write_state as _ivf_state_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") < 300), idx)

    # crash state: intent written, delta files partially appended
    batch = emb.where(F.col("vec_id") >= 300)
    _ivf_state_write(
        idx, "_lmds_appending",
        {"run": "r1", "batch": 0, "existing": inventory(idx)},
    )
    append_pq_index(batch, idx)  # the "torn" files of the in-flight batch

    with pytest.raises(RuntimeError, match="pending append intent"):
        compact_index(spark, idx)
    assert inventory(idx)["_delta"]  # delta zone untouched

    # the stream replay recovers the torn batch; compaction then works
    # and the corpus holds every vector exactly once
    assert append_pq_index_exactly_once(batch, idx, 0, "r1")
    assert compact_index(spark, idx) > 0
    ids = spark.read.parquet(idx + "/data").groupBy("vec_id").count()
    assert ids.where("count > 1").count() == 0
    assert ids.count() == emb.count()
    assert not os.path.exists(os.path.join(idx, "_lmds_appending"))


def test_ivf_and_pq_appends_survive_torn_compaction(
    spark, tmp_path, monkeypatch
):
    """A compaction that fails after its intent leaves the delta zone
    intact, and the stream keeps appending into it.  The next
    compact_index rolls back only the torn fold: a batch appended in
    between is committed (its applied marker skips any replay), so it
    must survive the rollback, and every vector is then present exactly
    once — for IVF and PQ alike."""
    import pytest
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators import index_layout
    from label_maker_dask_spark.operators.index_layout import (
        compact_index,
        read_index,
    )
    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index_exactly_once,
        append_pq_index_exactly_once,
        write_ivf_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for kind, write, append in (
        ("ivf", lambda df, p: write_ivf_index(df, p, n_cells=8),
         append_ivf_index_exactly_once),
        ("pq", write_pq_index, append_pq_index_exactly_once),
    ):
        idx = str(tmp_path / kind)
        write(emb.where(F.col("vec_id") < 300), idx)
        assert append(emb.where(F.col("vec_id").between(300, 399)), idx, 0, "r1")

        # the fold completes but the completion record is never written:
        # the intent alone is left, with the fold's files in the base
        real_write_state = index_layout.write_state

        def failing(p, name, state):
            if name == "_lmds_compacted":
                raise OSError("injected: fold failed before completion")
            real_write_state(p, name, state)

        monkeypatch.setattr(index_layout, "write_state", failing)
        with pytest.raises(OSError, match="injected"):
            compact_index(spark, idx)
        monkeypatch.setattr(index_layout, "write_state", real_write_state)

        assert append(emb.where(F.col("vec_id") >= 400), idx, 1, "r1")
        assert compact_index(spark, idx) > 0
        ids = read_index(spark, idx).groupBy("vec_id").count()
        assert ids.where("count > 1").count() == 0, kind
        assert ids.count() == emb.count(), kind


def test_pq_join_form_equals_broadcast_form(spark, tmp_path):
    """pq_adc_topk_join (shuffle-join, corpus-sized queries) must return
    exactly pq_adc_topk_stored's results over the same stored index —
    including with an uncompacted delta zone, so both read paths union
    base + delta identically."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk_join,
        pq_adc_topk_stored,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 21 == 0)
    idx = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") < 350), idx)
    append_pq_index(emb.where(F.col("vec_id") >= 350), idx)  # delta zone

    a = sorted(map(tuple, pq_adc_topk_stored(spark, idx, queries).collect()))
    b = sorted(map(tuple, pq_adc_topk_join(spark, idx, queries).collect()))
    assert a == b and len(a) > 0


def test_ivf_rebalance_refuses_pending_append_intent(spark, tmp_path):
    """rebalance_ivf_index must refuse while an append intent is
    pending — the IVF twin of the PQ-compaction guard: splitting a cell
    that holds a torn append's partial files would rewrite those rows
    into new files the replay bracket's inventory rollback can't
    identify, so the replayed re-append would duplicate them."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import read_index
    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        append_ivf_index_exactly_once,
        rebalance_ivf_index,
        write_ivf_index,
    )
    from label_maker_dask_spark.streaming.commit import (
        inventory,
        write_state as _ivf_state_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    idx = str(tmp_path / "idx")
    write_ivf_index(emb.where(F.col("vec_id") < 300), idx, n_cells=8)

    batch = emb.where(F.col("vec_id") >= 300)
    _ivf_state_write(
        idx, "_lmds_appending",
        {"run": "r1", "batch": 0, "existing": inventory(idx)},
    )
    append_ivf_index(batch, idx)  # the torn batch's in-flight files

    with pytest.raises(RuntimeError, match="pending append intent"):
        rebalance_ivf_index(spark, idx, threshold=0.5)

    # after the stream replay recovers, rebalance works and the corpus
    # holds every vector exactly once
    assert append_ivf_index_exactly_once(batch, idx, 0, "r1")
    rebalance_ivf_index(spark, idx, threshold=0.5)
    ids = read_index(spark, idx).groupBy("vec_id").count()
    assert ids.where("count > 1").count() == 0
    assert ids.count() == emb.count()
    assert not os.path.exists(os.path.join(idx, "_lmds_appending"))


def test_pq_compaction_completion_precedes_intent(spark, tmp_path):
    """The crash window BETWEEN the completion record and intent
    retirement: recovery must honor the completion record (fold is
    final) and must NOT roll the folded files back — the failure that
    would silently duplicate every folded vector."""
    import os

    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.index_layout import compact_index
    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk_stored,
        write_pq_index,
    )
    from label_maker_dask_spark.streaming.commit import (
        inventory,
        write_state as _ivf_state_write,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 25 = 0")
    idx = str(tmp_path / "idx")
    write_pq_index(emb.where(F.col("vec_id") < 300), idx)
    pre_fold_inventory = inventory(idx)
    append_pq_index(emb.where(F.col("vec_id") >= 300), idx)
    deltas = inventory(idx)["_delta"]

    # manually perform the fold (what compact does before its markers)
    ddir = os.path.join(idx, "data", "_delta")
    (
        spark.read.parquet(*[
            os.path.join(ddir, f) for f in deltas
            if not f.startswith(("_", "."))
        ])
        .write.partitionBy("bucket").mode("append").parquet(idx + "/data")
    )
    # crash state: completion record written, intent NOT yet retired
    _ivf_state_write(idx, "_lmds_compacting",
                     {"existing": pre_fold_inventory})
    _ivf_state_write(idx, "_lmds_compacted", {"deltas": deltas})

    compact_index(spark, idx)  # recovers on entry
    # folded files kept (not rolled back), deltas gone, markers cleared
    assert not inventory(idx).get("_delta")
    assert not os.path.exists(os.path.join(idx, "_lmds_compacting"))
    assert not os.path.exists(os.path.join(idx, "_lmds_compacted"))
    got = pq_adc_topk_stored(spark, idx, queries).collect()
    # every vector present exactly once: no neighbor may pair with itself,
    # and the full corpus must be reachable (500 vectors -> nonzero hits
    # for every query bucket that has companions)
    assert len(got) > 0
    ids = spark.read.parquet(idx + "/data").groupBy("vec_id").count()
    assert ids.where("count > 1").count() == 0  # the duplication bug
    assert ids.count() == emb.count()


def test_pq_nondefault_geometry_roundtrip(spark, tmp_path):
    """An index built with non-default geometry (16 subspaces x 4 dims)
    appends and queries correctly: geometry is derived from the stored
    codebook sidecar, never assumed from defaults."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk,
        pq_adc_topk_stored,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 25 = 0")
    idx = str(tmp_path / "idx16")
    write_pq_index(emb, idx, n_sub=16, sub_dim=4)
    stored = sorted(map(tuple, pq_adc_topk_stored(spark, idx, queries).collect()))
    onthefly = sorted(map(tuple, pq_adc_topk(
        emb, F.col("vec_id") % 25 == 0, n_sub=16, sub_dim=4).collect()))
    assert stored == onthefly and len(stored) > 0

    # append under the same sidecar: codes stay 16-wide
    idx2 = str(tmp_path / "idx16b")
    write_pq_index(emb.where(F.col("vec_id") < 300), idx2, n_sub=16, sub_dim=4)
    append_pq_index(emb.where(F.col("vec_id") >= 300), idx2)
    import os
    delta = spark.read.parquet(os.path.join(idx2, "data", "_delta"))
    assert delta.select(F.size("codes")).distinct().collect()[0][0] == 16


def test_pq_arrow_assignment_nonlong_id(spark):
    """The Arrow assigner derives the id column's type from the input
    schema (a string-keyed corpus must not be coerced to long)."""
    from label_maker_dask_spark.operators.similarity import (
        _pq_assign,
        pq_subvectors,
        pq_train_codebooks,
    )

    rows = [(f"doc-{i}", [float(i + j) for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, "doc_key string, vec array<float>")
    subv = pq_subvectors(emb, n_sub=2, sub_dim=4,
                         id_col="doc_key", vec_col="vec")
    cb = pq_train_codebooks(subv, k=4, refine_iters=0)
    got = _pq_assign(subv, cb).collect()
    assert len(got) == 40
    assert all(isinstance(r.vec_id, str) for r in got)


# ---------------------------------------------------------------------------
# Round 16: multi-probe contract pin + the multi-table / planted recall gates
# ---------------------------------------------------------------------------


def _all_candidates(emb, queries, n_planes, dim, multiprobe):
    """Every scored candidate pair of lsh_topk (k = corpus size returns
    the FULL ranked candidate list per query, not a top-k cut)."""
    n = emb.count()
    out = lsh_topk(
        emb, queries, k=n, n_planes=n_planes, dim=dim, multiprobe=multiprobe
    ).collect()
    pairs = {}
    for r in out:
        pairs.setdefault(r.query_id, set()).add(r.neighbor_id)
    return pairs


def test_multiprobe_candidate_superset_and_occupancy_bound(spark):
    """Pin the multi-probe contract (operators/similarity.py lsh_topk):
    per query, the hamming<=1 candidate set (a) CONTAINS the exact-bucket
    set, (b) equals EXACTLY the union of occupants of the n_planes+1
    probed buckets minus self — the equi-join-over-probes construction
    matches each (query, neighbor) pair at most once and never reaches
    outside the probe set — and (c) therefore never exceeds
    (n_planes+1) x the largest bucket's occupancy.  Deterministic
    derivations (seeded numpy corpora x plane counts) rather than one
    example, pinning the contract against probe-sequence changes."""
    import numpy as np

    from label_maker_dask_spark.operators.similarity import srp_units

    dim = 8
    for seed, n_planes in [(0, 4), (1, 4), (2, 6)]:
        rng = np.random.default_rng(seed)
        mat = rng.normal(size=(40, dim)).round(3)
        emb = spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(len(mat))],
            "vec_id long, embedding array<double>",
        )
        queries = emb.where("vec_id % 7 = 0")
        exact = _all_candidates(emb, queries, n_planes, dim, multiprobe=0)
        probed = _all_candidates(emb, queries, n_planes, dim, multiprobe=1)

        buckets = {
            r.vec_id: r.bucket
            for r in srp_units(
                emb, "vec_id", "v", n_planes=n_planes, dim=dim
            ).collect()
        }
        occupants = {}
        for vid, b in buckets.items():
            occupants.setdefault(b, set()).add(vid)
        max_occ = max(len(v) for v in occupants.values())
        for qid in range(0, 40, 7):
            got = probed.get(qid, set())
            # (a) superset of the exact-bucket candidates
            assert exact.get(qid, set()) <= got, (seed, n_planes, qid)
            # (b) exactly the probed-bucket union minus self
            probes = {buckets[qid]} | {
                buckets[qid] ^ (1 << j) for j in range(n_planes)
            }
            assert len(probes) == n_planes + 1  # bit flips are distinct
            expect = set().union(
                *(occupants.get(b, set()) for b in probes)
            ) - {qid}
            assert got == expect, (seed, n_planes, qid)
            # (c) the documented candidate bound
            assert len(got) <= (n_planes + 1) * max_occ


def test_multitable_candidates_superset_of_single_table(spark):
    """OR-construction invariant: table 0 of lsh_multitable_topk uses
    the SAME plane family as single-table lsh_topk, so the multi-table
    candidate set per query contains the single-table one — recall can
    only go up with L (full candidate lists via k = corpus size)."""
    import label_maker_dask_spark.queries as Q
    from label_maker_dask_spark.operators.similarity import (
        lsh_multitable_topk,
    )

    emb = Q._t(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id % 50 = 0")
    n = emb.count()
    single = lsh_topk(emb, queries, k=n).collect()
    multi = lsh_multitable_topk(emb, queries, k=n, n_tables=4).collect()
    s_pairs = {(r.query_id, r.neighbor_id) for r in single}
    m_pairs = {(r.query_id, r.neighbor_id) for r in multi}
    assert s_pairs <= m_pairs
    assert len(m_pairs) > len(s_pairs)  # the extra tables add candidates
    # each surviving pair scored once: no duplicate (query, neighbor)
    assert len(multi) == len(m_pairs)
    # scores agree with the single-table fold on shared pairs
    s_sim = {(r.query_id, r.neighbor_id): r.cosine_sim for r in single}
    for r in multi:
        if (r.query_id, r.neighbor_id) in s_sim:
            assert r.cosine_sim == s_sim[(r.query_id, r.neighbor_id)]


def test_planted_recall_ladder_and_floor(spark):
    """The round-16 shippable-tier gate, locally: on the planted-cluster
    corpus (a) every exact top-5 neighbor is within-cluster — the
    fixture plants what it claims; (b) 4-table SRP recall@5 >= 0.9 (the
    r15 verdict's done-bar); (c) the ladder orders as designed:
    multitable > single-table, and both quantized tiers sit at or below
    the single-table candidate ceiling (their candidates ARE the
    single-table buckets)."""
    import pyspark.sql.functions as F

    import label_maker_dask_spark.queries as Q
    import label_maker_dask_spark.queries_planted_ext as P

    sf = "/root/testdata/sf0.001"
    planted = P._planted_embeddings(spark, sf)
    queries = planted.where(F.col("vec_id") % 25 == 0)
    exact = cosine_topk(planted, queries, k=5).collect()
    assert all(r.query_id % 16 == r.neighbor_id % 16 for r in exact)

    def recall(name):
        row = (
            Q.QUERIES[name](spark, sf)
            .agg(F.sum("n_hit").alias("h"), F.sum("n_exact").alias("e"))
            .collect()[0]
        )
        return row.h / row.e

    multi = recall("similarity_recall_multitable_planted_vs_exact")
    srp1 = recall("similarity_recall_srp_planted_vs_exact")
    sq8 = recall("similarity_recall_sq8_planted_vs_exact")
    pq = recall("similarity_recall_pq_planted_vs_exact")
    ivf = recall("similarity_recall_ivf_planted_vs_exact")
    sq8r = recall("similarity_recall_sq8_rescored_planted_vs_exact")
    pqr = recall("similarity_recall_pq_rescored_planted_vs_exact")
    assert multi >= 0.9, multi            # the shippable-tier floor
    assert ivf >= 0.9, ivf                # IVF in-regime (measured 1.0)
    assert srp1 < multi                   # the multi-table lift is real
    assert sq8 <= srp1 and pq <= srp1     # candidate-ceiling ordering
    assert min(sq8, pq) > 0.2             # quantized tiers still useful
    # exact rescoring of the quantized top-R recovers the candidate
    # ceiling exactly when R covers the bucket (78 candidates < R=50*2)
    assert sq8r == srp1, (sq8r, srp1)
    assert pqr == srp1, (pqr, srp1)
    assert sq8r > sq8 and pqr > pq        # the recovery is real


@pytest.mark.parametrize("kind", ["ivf", "pq"])
def test_stored_empty_query_set_returns_empty_not_error(
    spark, tmp_path, kind
):
    """An empty query set against a built stored index answers zero rows
    with the output schema, not an error."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        ivf_topk_stored,
        pq_adc_topk_stored,
        write_ivf_index,
        write_pq_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.where(F.lit(False))
    path = str(tmp_path / kind)
    if kind == "ivf":
        write_ivf_index(emb, path, n_cells=16)
        out = ivf_topk_stored(spark, path, none, k=5)
        score = "cosine_sim"
    else:
        write_pq_index(emb, path)
        out = pq_adc_topk_stored(spark, path, none, k=5)
        score = "adc_dist"
    assert out.columns == ["query_id", "rank", "neighbor_id", score]
    assert out.count() == 0


def test_ivf_paths_answer_empty_inputs_with_zero_rows(spark, tmp_path):
    """No queries or no corpus gives zero rows on the brute-force and
    every IVF path.  An index built from no vectors has no centroids: it
    answers zero rows and reports no cells, and appending to it raises a
    ValueError that says to rebuild."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.similarity import (
        append_ivf_index,
        ivf_cell_stats,
        ivf_topk,
        ivf_topk_join,
        ivf_topk_stored,
        write_ivf_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    none = emb.where(F.lit(False))
    queries = emb.where(F.col("vec_id") % 25 == 0)
    for corpus, q in ((emb, none), (none, queries)):
        assert cosine_topk(corpus, q, k=5).count() == 0
        assert ivf_topk(corpus, q, k=5).count() == 0
        assert ivf_topk_join(corpus, q, k=5).count() == 0

    path = str(tmp_path / "ivf_empty")
    write_ivf_index(none, path, n_cells=16)
    out = ivf_topk_stored(spark, path, queries, k=5)
    assert out.columns == ["query_id", "rank", "neighbor_id", "cosine_sim"]
    assert out.count() == 0
    assert ivf_cell_stats(spark, path)["n_cells"] == 0
    with pytest.raises(ValueError, match="write_ivf_index"):
        append_ivf_index(queries, path)


def test_ivf_join_probes_every_cell_when_fewer_cells_than_probes(spark):
    """With fewer cells than ``n_probe`` each query probes every cell, in
    the join form as in the broadcast form."""
    from label_maker_dask_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_join,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where("vec_id % 25 = 0")
    a = ivf_topk(emb, queries, k=5, n_cells=2, n_probe=4).collect()
    b = ivf_topk_join(emb, queries, k=5, n_cells=2, n_probe=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and a
