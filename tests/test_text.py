"""Text-analysis expression library: golden values + cross-engine hash parity."""

import duckdb
from pyspark.sql import Row
from pyspark.sql import functions as F

from label_maker_dask_spark.functions import text as T


def _df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)],
        schema="doc_id long, text string",
    )


def test_tokens_edge_cases(spark):
    df = _df(spark, ["a b  c", "  leading trailing  ", "", "one"])
    out = {r.doc_id: r.t for r in df.select("doc_id", T.tokens(F.col("text")).alias("t")).collect()}
    assert out[0] == ["a", "b", "c"]
    assert out[1] == ["leading", "trailing"]
    assert out[2] == []
    assert out[3] == ["one"]


def test_char_poly_hash_matches_python_and_duckdb(spark):
    texts = ["abc", "hello world", "", "x", "the quick brown fox"]
    df = _df(spark, texts).select(
        "doc_id", T.char_poly_hash(F.col("text")).alias("h")
    )
    got = {r.doc_id: r.h for r in df.collect()}

    def py_fold(s):
        h = 0
        for c in s:
            h = (h * T.HASH_MULT + ord(c)) % T.HASH_P
        return h

    con = duckdb.connect()
    for i, t in enumerate(texts):
        assert got[i] == py_fold(t), t
        ddb = con.execute(
            f"SELECT {T.char_poly_hash_sql('?')}", [t]
        ).fetchone()[0]
        assert ddb == py_fold(t), t


def test_shingle_hash_combination_matches_oracle(spark):
    """doc_shingles' per-doc shingle set equals the DuckDB rendering
    ``shingle_hashes_sql`` over the ``WS_CLASS`` tokens."""
    from label_maker_dask_spark.operators.dedup import doc_shingles

    texts = ["a b c d e", "one two three", "too short"]
    out = {}
    for r in doc_shingles(_df(spark, texts)).collect():
        out.setdefault(r.doc_id, set()).add(r.sh)
    con = duckdb.connect()
    toks_sql = (
        f"list_filter(string_split_regex(trim(t), '{T.WS_CLASS}'), "
        "x -> x != '')"
    )
    for i, t in enumerate(texts):
        ddb = con.execute(
            f"SELECT {T.shingle_hashes_sql(toks_sql)} FROM (SELECT ? AS t)", [t]
        ).fetchone()[0]
        assert out.get(i, set()) == set(ddb), t
    assert len(out[0]) == 3 and len(out[1]) == 1
    assert 2 not in out  # 2 tokens -> no 3-shingles


def test_punct_and_stopword_ratios(spark):
    df = _df(spark, ["Hello, world! the end.", "nopunct", ""])
    out = df.select(
        "doc_id",
        T.punct_ratio(F.col("text")).alias("p"),
        T.stopword_ratio(T.tokens(F.col("text"))).alias("s"),
    ).collect()
    rows = {r.doc_id: r for r in out}
    assert abs(rows[0].p - 3 / 22) < 1e-9          # ',', '!', '.'
    assert abs(rows[0].s - 1 / 4) < 1e-9           # "the" of 4 tokens
    assert rows[1].p == 0.0 and rows[1].s == 0.0
    assert rows[2].p == 0.0 and rows[2].s == 0.0   # empty text guarded


def test_quality_score_bounds(spark):
    df = _df(spark, [
        "the quick brown fox jumps over a lazy dog near the river bank",
        "!!!! ???? ....",
        "ok",
    ])
    out = {r.doc_id: r.q for r in df.select(
        "doc_id", T.quality_score(F.col("text")).alias("q")).collect()}
    assert out[0] == 1.0                       # long, clean, stopworded
    assert 0.0 <= out[1] < 1.0
    assert 0.0 <= out[2] < 1.0                 # too short


def test_char_entropy_known_values(spark, tmp_path):
    """Entropy of a single repeated char is 0 (flagged low); n distinct
    equiprobable chars give exactly log2(n); natural text sits well above
    the 3-bit flag line."""
    import math

    from label_maker_dask_spark.queries_text_ext import text_char_entropy

    rows = [
        Row(doc_id=0, text="aaaaaaaa", lang="en", source="s", n_chars=8),
        Row(doc_id=1, text="abcdabcd", lang="en", source="s", n_chars=8),
        Row(doc_id=2, text="the quick brown fox jumps over a lazy dog",
            lang="en", source="s", n_chars=41),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in text_char_entropy(spark, sf).collect()}
    assert out[0].char_entropy_bits == 0.0 and out[0].low_entropy == 1
    assert abs(out[1].char_entropy_bits - math.log2(4)) < 1e-9
    assert out[1].low_entropy == 1  # 2 bits < 3.0
    assert out[2].char_entropy_bits > 3.0 and out[2].low_entropy == 0
    assert out[2].n_chars == 41


def test_bigram_logprob_interp_hand_computed(spark, tmp_path):
    """Two-doc corpus small enough to hand-compute the interpolated
    bigram LM: corpus 'a b a b' + 'a b c' -> bigram counts
    (a,b)=3, (b,a)=1, (b,c)=1; prefix counts a=3, b=2; unigram counts
    a=3, b=3, c=1, solo=1, total=8."""
    import math

    from label_maker_dask_spark.queries_text_ext import (
        text_bigram_logprob_interp,
    )

    rows = [
        Row(doc_id=0, text="a b a b", lang="en", source="s", n_chars=7),
        Row(doc_id=1, text="a b c", lang="en", source="s", n_chars=5),
        Row(doc_id=2, text="solo", lang="en", source="s", n_chars=4),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/documents.parquet")
    out = {r.doc_id: r for r in text_bigram_logprob_interp(spark, sf).collect()}

    def lp(bcnt, pcnt, ucnt):
        return math.log(0.75 * (bcnt / pcnt) + 0.25 * (ucnt / 8))

    # doc 0 positions: (a,b) (b,a) (a,b)
    exp0 = (lp(3, 3, 3) + lp(1, 2, 3) + lp(3, 3, 3)) / 3
    # doc 1 positions: (a,b) (b,c)
    exp1 = (lp(3, 3, 3) + lp(1, 2, 1)) / 2
    assert out[0].n_bigrams == 3
    assert abs(out[0].avg_logprob - round(exp0, 6)) < 1e-9
    assert out[1].n_bigrams == 2
    assert abs(out[1].avg_logprob - round(exp1, 6)) < 1e-9
    assert 2 not in out  # single-token doc has no bigram positions


def test_source_kl_divergence_hand_computed(spark, tmp_path):
    """Two sources: one matching the corpus distribution exactly has
    KL = its own distribution vs pooled (small); a disjoint-vocabulary
    source has KL = ln(pool/source token share) per token."""
    import math

    from label_maker_dask_spark.queries_text_ext import (
        text_source_kl_divergence,
    )

    rows = [
        Row(doc_id=0, text="a a b b", lang="en", source="s1", n_chars=7),
        Row(doc_id=1, text="c c c c", lang="en", source="s2", n_chars=7),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(rows).write.parquet(f"{sf}/documents.parquet")
    out = {r.source: r for r in text_source_kl_divergence(spark, sf).collect()}
    # corpus: a=2, b=2, c=4, total 8.
    # s1: p(a)=p(b)=1/2 vs corpus 1/4 -> KL = ln(2)
    # s2: p(c)=1 vs corpus 1/2      -> KL = ln(2)
    assert out["s1"].n_tokens == 4 and out["s2"].n_tokens == 4
    assert abs(out["s1"].kl_to_corpus - round(math.log(2), 6)) < 1e-9
    assert abs(out["s2"].kl_to_corpus - round(math.log(2), 6)) < 1e-9
