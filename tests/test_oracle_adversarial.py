"""Catalog cells against their DuckDB oracles on small hand-built inputs
that the TPC-H-shaped testdata never contains (NULL dates and the like).
Each test writes its tables as parquet into a temp ``sf_dir`` and compares
``QUERIES[name]`` with ``ORACLES[name]`` row for row."""

import datetime

import duckdb
import pyarrow as pa
import pytest
import pyarrow.parquet as pq

from label_maker_dask_spark.queries import ORACLES, QUERIES


def _write_tables(sf_dir, tables):
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{sf_dir}/{name}.parquet")


def _both(spark, sf_dir, name, tables):
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = sorted(con.execute(ORACLES[name]).fetchall())
    got = sorted(tuple(r) for r in QUERIES[name](spark, sf_dir).collect())
    return got, want


def test_q21_last_supplier_kept_when_others_have_only_null_ship_dates(
    spark, tmp_path
):
    """Order 1's only other supplier (10) has nothing but NULL ship dates,
    so no line ships strictly after supplier 20's: the oracle's
    ``NOT EXISTS (... l3.l_shipdate > l1.l_shipdate)`` keeps supplier 20.
    Order 2 is the ordinary case (30 ships last)."""
    ts = lambda day: datetime.datetime(1995, 1, day)
    tables = {
        "lineitem": {
            "l_orderkey": pa.array([1, 1, 1, 2, 2], pa.int64()),
            "l_suppkey": pa.array([10, 10, 20, 10, 30], pa.int64()),
            "l_shipdate": pa.array(
                [None, None, ts(5), ts(1), ts(3)], pa.timestamp("us")
            ),
        },
        "orders": {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderstatus": pa.array(["F", "F"]),
        },
        "supplier": {
            "s_suppkey": pa.array([10, 20, 30], pa.int64()),
            "s_name": pa.array(["s10", "s20", "s30"]),
        },
    }
    sf_dir = str(tmp_path)
    _write_tables(sf_dir, tables)
    got, want = _both(spark, sf_dir, "q21_suppliers_who_shipped_last", tables)
    assert want == [("s10", 2), ("s20", 1), ("s30", 1)]
    assert got == want


def _embeddings(rows):
    """An ``embeddings`` table of ``(vec_id, 64 floats or None)`` rows."""
    return {
        "embeddings": {
            "vec_id": pa.array([i for i, _ in rows], pa.int64()),
            "embedding": pa.array(
                [v for _, v in rows], pa.list_(pa.float32())
            ),
        }
    }


def test_phash_of_null_pixel_array_is_zero(spark, tmp_path):
    """A NULL embedding renders to a NULL pixel array; the SQL twin's
    NULL arithmetic signs every coefficient false, so its pHash is 0,
    and the Arrow pass must give the same instead of failing the task.
    So does a 10-float embedding, whose pixels past the 10th read as
    NULL in SQL; a 66-float one hashes as its first 64 floats."""
    v = [((i * 7) % 11) / 5.5 - 1.0 for i in range(64)]
    rows = [(1, v), (2, None), (3, v[:10]), (4, v + [0.5, -0.5])]
    tables = _embeddings(rows)
    sf_dir = str(tmp_path)
    _write_tables(sf_dir, tables)
    got, want = _both(spark, sf_dir, "multimodal_phash_signatures", tables)
    h = want[0][1]
    assert h != 0 and want == [(1, h), (2, 0), (3, 0), (4, h)]
    assert got == want


_NULL_EMBEDDING = [
    (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(64)])
    for i in range(12)
] + [(99, None)]


@pytest.mark.parametrize(
    "rows", [[], _NULL_EMBEDDING], ids=["empty", "null-embedding"]
)
@pytest.mark.parametrize(
    "name",
    [
        "embedding_kmeans_clusters",
        "embedding_kmeans_clusters_arrow",
        "curation_semdedup_cluster_profiles",
    ],
)
def test_kmeans_cells_on_empty_or_null_embeddings(spark, tmp_path, name, rows):
    """An empty table gives no rows; a NULL vector (not a seed) has NULL
    dots, so it joins the lowest cell with a NULL similarity and adds
    nothing to the means."""
    tables = _embeddings(rows)
    sf_dir = str(tmp_path)
    _write_tables(sf_dir, tables)
    got, want = _both(spark, sf_dir, name, tables)
    assert got == want
    if not rows:
        assert want == []
    elif name != "curation_semdedup_cluster_profiles":
        assert (99, 0, None) in want and len(want) == 13


#: zero-row source tables with the testdata's column types
_EMPTY_SOURCES = {
    "orders": {
        "o_orderkey": pa.array([], pa.int64()),
        "o_custkey": pa.array([], pa.int64()),
        "o_orderstatus": pa.array([], pa.string()),
        "o_totalprice": pa.array([], pa.float64()),
        "o_orderdate": pa.array([], pa.timestamp("us")),
        "o_orderpriority": pa.array([], pa.string()),
    },
    "events": {
        "event_id": pa.array([], pa.int64()),
        "ts": pa.array([], pa.timestamp("us")),
        "user_id": pa.array([], pa.int64()),
        "event_type": pa.array([], pa.string()),
        "value": pa.array([], pa.float64()),
        "props": pa.array([], pa.string()),
    },
    "lineitem": {
        "l_orderkey": pa.array([], pa.int64()),
        "l_suppkey": pa.array([], pa.int64()),
        "l_linenumber": pa.array([], pa.int32()),
        "l_quantity": pa.array([], pa.float64()),
        "l_extendedprice": pa.array([], pa.float64()),
    },
    **_embeddings([]),
}


@pytest.mark.parametrize(
    "name",
    [
        "stream_upsert_orders_replay",
        "stream_accumulate_supplier_replay",
        "stream_scd2_user_state_replay",
        "stream_ohlc_hourly_replay",
        "stream_session_timeout_replay",
        "stream_pq_index_replay",
        "stream_versioned_diff_replay",
    ],
)
def test_stream_replay_cells_on_empty_sources(spark, tmp_path, name):
    """Empty sources give the oracle's zero rows: the day terciles of no
    events are three empty batches, a sink whose drain committed
    nothing reads as an empty table, a versioned table that published
    no version has no change to diff, and a PQ index built from no
    vectors (an empty codebook) answers no neighbors.  The session-timeout cell has no
    event to place its sentinel after, so it raises a ValueError that
    names it."""
    sf_dir = str(tmp_path)
    _write_tables(sf_dir, _EMPTY_SOURCES)
    if name == "stream_session_timeout_replay":
        with pytest.raises(ValueError, match=name):
            QUERIES[name](spark, sf_dir)
        return
    got, want = _both(spark, sf_dir, name, _EMPTY_SOURCES)
    assert want == [] and got == want


def test_versioned_diff_replay_when_batch_0_is_empty(spark, tmp_path):
    """No order key is a multiple of 3, so batch 0 is empty and the sink
    publishes no version for it: versions 1 and 2 hold batches 1 and 2.
    Against batch 0's (empty) sums every customer is an insert with a
    NULL old side."""
    tables = {
        "orders": {
            "o_orderkey": pa.array([1, 4, 7, 2, 5], pa.int64()),
            "o_custkey": pa.array([10, 20, 10, 30, 20], pa.int64()),
            "o_totalprice": pa.array(
                [1.0, 2.0, 3.0, 4.0, 5.0], pa.float64()
            ),
        }
    }
    sf_dir = str(tmp_path)
    _write_tables(sf_dir, tables)
    got, want = _both(spark, sf_dir, "stream_versioned_diff_replay", tables)
    assert want == [
        (10, "insert", None, 400),
        (20, "insert", None, 700),
        (30, "insert", None, 400),
    ]
    assert got == want
