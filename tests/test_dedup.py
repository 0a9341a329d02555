"""Dedup operators: known-duplicate corpora with hand-checkable answers."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from label_maker_dask_spark.operators import dedup as D

DOCS = [
    Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
    Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),   # exact dup of 1
    Row(doc_id=3, text="the quick brown fox jumps over the lazy cat"),   # near dup of 1
    Row(doc_id=4, text="completely different words appear in this one"),
    Row(doc_id=5, text="short text"),                                    # < 3 tokens
]


def _docs(spark):
    return spark.createDataFrame(DOCS, schema="doc_id long, text string")


def test_exact_duplicate_groups(spark):
    out = D.exact_duplicate_groups(_docs(spark)).collect()
    groups = {r.canonical_id: r.group_size for r in out}
    assert groups[1] == 2          # docs 1+2 collapse
    assert groups[3] == 1
    assert len(out) == 4           # 4 distinct texts


def test_doc_shingles_setness(spark):
    sh = D.doc_shingles(_docs(spark)).collect()
    by_doc = {}
    for r in sh:
        by_doc.setdefault(r.doc_id, []).append(r.sh)
    # doc 1: 9 tokens -> 7 shingles, all distinct here
    assert len(by_doc[1]) == 7
    assert len(set(by_doc[1])) == 7
    # identical texts produce identical shingle sets
    assert sorted(by_doc[1]) == sorted(by_doc[2])
    # < 3 tokens -> no shingles
    assert 5 not in by_doc


def test_jaccard_pairs_exact_values(spark):
    sh = D.doc_shingles(_docs(spark))
    pairs = {(r.id_a, r.id_b): r.jaccard for r in D.jaccard_pairs(sh, 0.0).collect()}
    # identical docs: jaccard 1.0
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3 differ only in the last token, which appears in exactly
    # one 3-shingle: inter=6, union=8 -> 0.75
    assert abs(pairs[(1, 3)] - 0.75) < 1e-6
    assert (1, 4) not in pairs     # nothing shared


def test_minhash_pipeline_finds_dups(spark):
    out = D.minhash_neardup_pairs(_docs(spark), threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in out}
    assert (1, 2) in found         # identical -> identical signatures
    # near-dup (1,3) shares 6/8 shingles; with 4-row bands it may or may not
    # band-collide, but if reported its jaccard must be exact
    for r in out:
        if (r.id_a, r.id_b) == (1, 3):
            assert abs(r.jaccard - 0.75) < 1e-6


def test_minhash_signature_determinism(spark):
    sig1 = D.minhash_signatures(D.doc_shingles(_docs(spark))).collect()
    sig2 = D.minhash_signatures(D.doc_shingles(_docs(spark))).collect()
    assert sorted(map(tuple, sig1)) == sorted(map(tuple, sig2))
    # identical docs share the full signature
    rows = {r.doc_id: tuple(r)[1:] for r in sig1}
    assert rows[1] == rows[2]


def test_simhash_properties(spark):
    df = D.simhash_signatures_df(_docs(spark))
    sigs = {r.doc_id: r.simhash for r in df.collect()}
    assert sigs[1] == sigs[2]                  # identical text, identical hash
    assert 0 <= sigs[1] < (1 << D.SIMHASH_BITS)
    # near-dup differs in few bits; different text differs in more
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(sigs[1], sigs[3]) <= hamming(sigs[1], sigs[4]) + 2


def _oracle(sql, docs):
    """Run DuckDB oracle SQL over a ``documents`` relation holding
    ``docs`` (``(doc_id, text)`` tuples); rows come back sorted."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register(
        "documents",
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in docs], pa.int64()),
                "text": pa.array([t for _, t in docs], pa.string()),
            }
        ),
    )
    return sorted(con.execute(sql).fetchall())


def _shingles_vs_oracle(spark, docs):
    """(doc_shingles rows, the catalog's DuckDB shingle CTE rows)."""
    from label_maker_dask_spark.queries import _shingle_cte

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted((r.doc_id, r.sh) for r in D.doc_shingles(df).collect())
    return got, _oracle(f"WITH {_shingle_cte()} SELECT doc_id, sh FROM sh", docs)


def test_doc_shingles_arrow_matches_expression_path(spark):
    """doc_shingles must equal the DuckDB shingle twin the Jaccard and
    containment oracles replay (``queries._shingle_cte``, built from
    ``functions.text.shingle_hashes_sql``) row for row — including on
    non-ASCII text, which exercises the ord() fallback of the fold."""
    docs = [(r.doc_id, r.text) for r in DOCS] + [
        (6, "naïve café déjà vu encore une fois")
    ]
    got, want = _shingles_vs_oracle(spark, docs)
    assert got == want and len(got) > 0
    assert {d for d, _ in got} == {1, 2, 3, 4, 6}  # doc 5 has < 3 tokens


def test_minhash_profiles_match_exploded_pipeline(spark):
    """minhash_doc_profiles (one narrow pass) must equal the exploded
    doc_shingles -> minhash_signatures composition value-for-value."""
    docs = _docs(spark)
    prof = D.minhash_doc_profiles(docs).collect()
    sig = {r.doc_id: r for r in D.minhash_signatures(D.doc_shingles(docs)).collect()}
    sh = {}
    for r in D.doc_shingles(docs).collect():
        sh.setdefault(r.doc_id, set()).add(r.sh)
    assert set(sig) == {r.doc_id for r in prof}
    for r in prof:
        assert set(r.shs) == sh[r.doc_id]
        for j in range(16):
            assert r[f"mh{j}"] == sig[r.doc_id][f"mh{j}"]


def test_doc_shingles_arrow_path_uses_ascii_whitespace(spark):
    """Python's str.split() treats NBSP as a separator; the oracles'
    ``WS_CLASS`` split does not, and it does split on \\x0B (vertical
    tab, which RE2's \\s would miss).  doc_shingles must tokenize exactly
    as the DuckDB twin on both."""
    docs = [
        (1, "foo\u00a0bar baz qux quux corge"),
        (2, "foo\x0bbar baz\x0b\x0bqux quux"),
    ]
    got, want = _shingles_vs_oracle(spark, docs)
    assert got == want
    # 5 tokens each ("foo\u00a0bar" is one token; \x0B separates): 3 shingles
    assert [d for d, _ in got] == [1, 1, 1, 2, 2, 2]


def test_simhash_arrow_matches_expression_path(spark):
    """SimHash signatures must equal the DuckDB oracle
    (``queries._simhash_oracle``, the one the SimHash catalog cells
    replay) signature for signature, at the 60-bit default and the
    16-bit verification width — including non-ASCII (ord() fallback),
    NBSP and \\x0B (``WS_CLASS`` parity), an empty doc and a NULL doc
    (both sign an empty bit-sum as 0)."""
    from label_maker_dask_spark.queries import _simhash_oracle

    docs = [(r.doc_id, r.text) for r in DOCS] + [
        (6, "naïve café déjà vu encore une fois"),
        (7, "foo bar baz"),
        (8, ""),
        (9, None),
        (10, "foo\u00a0bar baz"),
        (11, "foo\x0bbar baz"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for bits in (D.SIMHASH_BITS, 16):
        got = sorted(
            (r.doc_id, r.simhash)
            for r in D.simhash_signatures_df(df, bits=bits).collect()
        )
        assert got == _oracle(_simhash_oracle(bits), docs), bits
        assert len(got) == len(docs)
        sig = dict(got)
        assert sig[8] == sig[9] == 0
        assert sig[11] == sig[7] != sig[10]


def test_jaccard_pairs_refuses_large_input(spark):
    """The exact-quadratic baseline fails fast above its row cap, naming
    the scalable twin, instead of launching an all-pairs join."""
    import pytest

    from label_maker_dask_spark.operators.dedup import jaccard_pairs

    sh = spark.range(10).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("sh")
    )
    with pytest.raises(ValueError, match="minhash_neardup_pairs"):
        jaccard_pairs(sh, threshold=0.1, max_rows=5).collect()
    # under the cap the same call runs
    jaccard_pairs(sh, threshold=0.1, max_rows=100).collect()


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment ~1 in
    the short direction while Jaccard stays low — the pair must surface
    at a containment threshold that a same-threshold Jaccard misses."""
    long_text = " ".join(f"w{i}" for i in range(60))
    short_text = " ".join(f"w{i}" for i in range(10, 20))  # inside long
    docs = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    sh = D.doc_shingles(docs)
    cont = {(r.id_a, r.id_b): r for r in D.containment_pairs(sh, 0.9).collect()}
    assert (1, 2) in cont
    r = cont[(1, 2)]
    assert r.cont_in_b == 1.0 and r.cont_in_a < 0.2  # directional
    jac = {(r.id_a, r.id_b) for r in D.jaccard_pairs(sh, 0.9).collect()}
    assert (1, 2) not in jac  # Jaccard at the same bar misses it


def test_containment_lsh_twin_subset_and_values(spark):
    """The scalable containment path (LSH candidates -> set containment)
    must report a SUBSET of the exact all-pairs result with identical
    values on the pairs it surfaces (ANN-style recall contract), and must
    find near-duplicate pairs whose Jaccard is high enough to band."""
    rows = []
    base = " ".join(f"w{i}" for i in range(40))
    for d in range(12):
        rows.append((d, base + f" tail{d}"))  # near-dups of each other
    rows.append((100, "completely different content " * 3))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = D.doc_shingles(docs)
    exact = {
        (r.id_a, r.id_b): (r.cont_in_a, r.cont_in_b, r.containment)
        for r in D.containment_pairs(sh, 0.5).collect()
    }
    twin = {
        (r.id_a, r.id_b): (r.cont_in_a, r.cont_in_b, r.containment)
        for r in D.containment_neardup_pairs(docs, threshold=0.5).collect()
    }
    assert len(twin) > 0
    assert set(twin) <= set(exact)
    for pair, vals in twin.items():
        assert exact[pair] == vals  # identical set math on candidates
    # the high-Jaccard near-dup cluster must band together
    assert sum(1 for (a, b) in twin if a < 12 and b < 12) >= 10


def test_simhash_neardup_exact_recall_by_pigeonhole(spark):
    """The banded SimHash pair finder claims EXACT recall for
    hamming <= bands-1: verify against brute-force hamming over every
    signature pair, both directions (no missed pair, no extra pair)."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "completely different content about spark plans"),
            (5, "the quick brown fox jumps over the lazy dog"),  # exact dup
            (6, "totally unrelated words in this one here"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: r.simhash for r in D.simhash_signatures_df(docs).collect()}
    want = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                want[(a, b)] = h
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_neardup_pairs(docs).collect()
    }
    assert got == want
    assert (1, 5) in got and got[(1, 5)] == 0  # the exact dup pair

    import pytest

    with pytest.raises(ValueError, match="exact recall"):
        D.simhash_neardup_pairs(docs, max_hamming=5, bands=4)
