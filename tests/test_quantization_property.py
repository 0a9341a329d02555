"""Property tests for the scalar/product quantization tier: on ARBITRARY
small vector sets (duplicates, constant dimensions, extreme ranges), the
distributed encoders must equal brute-force pure-Python references —
the same argmin/tie rules, the same quantization grid — and the PQ
Arrow path must equal the expression path bit-for-bit.  Example tests
pin known shapes; these search the boundary cases (FP ties, mx == mn,
empty subspace winners)."""

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

_VALS = st.integers(min_value=-1000, max_value=1000)
_VECS = st.lists(
    st.lists(_VALS, min_size=4, max_size=4),
    min_size=2,
    max_size=10,
    unique_by=lambda v: tuple(v),
)


def _sq8_reference(vecs):
    """Brute-force SQ8: per-dim min/max over the set, floor-encode."""
    dims = list(zip(*vecs))
    mns = [min(d) for d in dims]
    mxs = [max(d) for d in dims]
    out = []
    for v in vecs:
        code = []
        for x, mn, mx in zip(v, mns, mxs):
            if mx == mn:
                code.append(0)
            else:
                u8 = math.floor(((x - mn) / (mx - mn)) * 255)
                code.append(int(u8) - 128)
        out.append(code)
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=_VECS)
def test_sq8_encode_matches_reference(spark, vecs):
    from label_maker_dask_spark.operators.similarity import (
        sq8_encode,
        sq8_train_ranges,
    )

    # scale ints to floats exactly representable in float32 (k/4)
    fvecs = [[x / 4.0 for x in v] for v in vecs]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fvecs)],
        "vec_id long, embedding array<float>",
    )
    ranges = sq8_train_ranges(emb)
    got = {
        r.vec_id: list(r.code)
        for r in sq8_encode(emb, ranges, dim=4).collect()
    }
    want = _sq8_reference(fvecs)
    for i, code in enumerate(want):
        assert got[i] == code, (i, got[i], code)
        assert all(-128 <= c <= 127 for c in got[i])


def _pq_assign_reference(vecs, codebook):
    """Brute-force nearest-entry per (vector, subspace): squared L2 with
    left-to-right accumulation, lowest-code ties."""
    out = {}
    for vid, v in enumerate(vecs):
        for m, subs in ((1, v[:2]), (2, v[2:])):
            best = None
            for code, cu in codebook[m]:
                d = 0.0
                for a, b in zip(subs, cu):
                    d = d + (a - b) * (a - b)
                if best is None or d < best[0]:
                    best = (d, code)
            out[(vid, m)] = best[1]
    return out


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(vecs=_VECS)
def test_pq_assignment_matches_reference(spark, vecs):
    from label_maker_dask_spark.operators.similarity import (
        _pq_assign,
        pq_subvectors,
        pq_train_codebooks,
    )

    fvecs = [[x / 4.0 for x in v] for v in vecs]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(fvecs)],
        "vec_id long, embedding array<float>",
    )
    subv = pq_subvectors(emb, n_sub=2, sub_dim=2)
    k = min(3, len(fvecs))
    cb = pq_train_codebooks(subv, k=k, refine_iters=0)
    codebook = {1: [], 2: []}
    for r in cb.orderBy("m", "code").collect():
        codebook[r.m].append((r.code, list(r.cu)))
    want = _pq_assign_reference(fvecs, codebook)

    got = {(r.vec_id, r.m): r.code for r in _pq_assign(subv, cb).collect()}
    assert got == want


_DAILY = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=6),        # dow cohort
        st.integers(min_value=0, max_value=100000),   # cents value
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_DAILY)
def test_seasonal_loo_closed_form_matches_bruteforce(spark, rows):
    """The leave-one-out mean/std computed from cohort (n, sum, sumsq)
    in closed form must match brute force (recompute stats over the
    cohort minus the scored row) — including the n<4 no-score rule and
    the zero-variance guard."""
    import statistics

    from pyspark.sql import functions as F

    from label_maker_dask_spark.queries_graph_ext import (
        anomaly_seasonal_dow_residual,
    )
    import pandas as pd

    # one event per (synthetic) day so daily v == the event value
    recs = []
    day0 = pd.Timestamp("2024-01-07")  # a Sunday -> dow cohort 0
    per_dow_seq = {}
    for dow, cents in rows:
        k = per_dow_seq.get(dow, 0)
        per_dow_seq[dow] = k + 1
        day = day0 + pd.Timedelta(days=dow + 7 * k)
        recs.append((len(recs), day + pd.Timedelta(hours=1), cents / 100.0))
    pdf = pd.DataFrame(recs, columns=["event_id", "ts", "value"])
    import tempfile

    sf = tempfile.mkdtemp()
    spark.createDataFrame(pdf).withColumn("user_id", F.lit(1)).withColumn(
        "event_type", F.lit("x")
    ).withColumn("props", F.lit("{}")).write.mode("overwrite").parquet(
        f"{sf}/events.parquet"
    )
    got = {
        (r.dow, round(r.daily_value, 6)): (r.seasonal_z, r.is_anomaly)
        for r in anomaly_seasonal_dow_residual(spark, sf).collect()
    }

    by_dow = {}
    for dow, cents in rows:
        by_dow.setdefault(dow, []).append(round(cents / 100.0, 6))
    for dow, vals in by_dow.items():
        for v in vals:
            others = list(vals)
            others.remove(v)
            key = (dow, round(v, 6))
            z, flag = got[key]
            if len(others) < 3:
                assert z is None and flag == 0, key
                continue
            mu = round(statistics.mean(others), 6)
            sd = round(statistics.stdev(others), 6)
            if sd <= 1e-9:
                assert z is None and flag == 0, key
                continue
            want_z = round((v - mu) / sd, 6)
            assert z is not None and abs(z - want_z) < 1e-6, (key, z, want_z)
            assert flag == (1 if abs(want_z) > 2.0 else 0), key


_DOCS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # quality band numerator
        st.integers(min_value=1, max_value=40),  # token count
    ),
    min_size=1,
    max_size=20,
)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_DOCS)
def test_token_budget_prefix_invariants(spark, docs):
    """Budget selection is a PREFIX of the (quality desc, id asc) order:
    the selected cumulative never exceeds the budget, the next document
    after the cut would exceed it, and selection is contiguous (no doc
    after an unselected one)."""
    from pyspark.sql import functions as F

    from label_maker_dask_spark.operators.rank import with_global_cumsum

    rows = [
        (i, q / 3.0, n) for i, (q, n) in enumerate(docs)
    ]
    df = spark.createDataFrame(rows, "doc_id long, quality double, n_tokens long")
    total = sum(n for _, _, n in rows)
    budget = (total - total % 2) // 2
    c = with_global_cumsum(
        df, [F.desc("quality"), F.asc("doc_id")], "n_tokens",
        cumsum_col="cum",
    )
    ordered = sorted(
        c.collect(), key=lambda r: (-r.quality, r.doc_id)
    )
    selected = [r for r in ordered if r.cum <= budget]
    # prefix property: selected rows are exactly the first len(selected)
    assert selected == ordered[: len(selected)]
    if selected:
        assert selected[-1].cum <= budget
    if len(selected) < len(ordered):
        assert ordered[len(selected)].cum > budget
