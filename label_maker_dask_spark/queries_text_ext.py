"""Text-analysis extension queries: TF-IDF, n-gram frequency, and the
scalar pandas-UDF surface (SURVEY.md §2.B "Text analysis" / "UDF surface").

Registered into the shared QUERIES/ORACLES catalog like
``queries_tpch_ext`` (imported from the end of ``queries``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.text import tokens, word_shingles, word_shingles_sql
from label_maker_dask_spark.queries_shared import (
    _TOKS_SQL,
    _t,
    register,
    session_tmpdir,
)

# shared tf-idf expression: rounded BEFORE ranking so the rank ordering is
# identical cross-engine (unrounded doubles can differ by an ulp between
# engines; ties then break on the term string)
_TFIDF_SQL = "round((tc::DOUBLE / dl) * ln((n_docs + 1)::DOUBLE / (df + 1)), 6)"


@register(
    "text_tfidf_top_terms",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, rank, term, tfidf FROM (
      SELECT tf.doc_id, tf.term, {_TFIDF_SQL} AS tfidf,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY {_TFIDF_SQL} DESC, tf.term ASC) AS rank
      FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
    WHERE rank <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """TF-IDF with per-document top-3 terms: tf = term count / doc length,
    idf = ln((N+1)/(df+1)), ranked by the rounded score (ties on term).

    Scale: term counts and doc lengths are partial-agg-friendly groupBys on
    (doc, term) / (doc); document frequency aggregates the already-collapsed
    tf frame; the corpus size is a 1-row broadcast.  The per-doc top-3 is a
    window with WindowGroupLimit pushdown — no global sort anywhere."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tc"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = F.round(
        (F.col("tc").cast("double") / F.col("dl"))
        * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)),
        6,
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(dl, "doc_id")
        .join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn("tfidf", tfidf)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "term", "tfidf")
    )


@register(
    "text_bm25_top_docs",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tc FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
    stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(dl) AS BIGINT) / CAST(count(*) AS DOUBLE) AS avgdl
              FROM dl),
    qtf AS (SELECT * FROM tf WHERE term IN ('join', 'filter', 'stream')),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM qtf GROUP BY 1),
    scored AS (
      SELECT qtf.doc_id,
             CAST(round(
               ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (qtf.tc * 2.2)
               / (qtf.tc + 1.2 * (0.25 + 0.75 * dl.dl / s.avgdl))
               * 1e6, 0) AS BIGINT) AS sq
      FROM qtf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats s)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(sq) AS BIGINT) AS bm25_q
    FROM scored GROUP BY doc_id
    ORDER BY bm25_q DESC, doc_id ASC LIMIT 50
    """,
)
def text_bm25_top_docs(spark, sf_dir):
    """BM25 retrieval (k1 = 1.2, b = 0.75, the Robertson/Sparck-Jones
    idf ``ln(1 + (N - df + 0.5)/(df + 0.5))``): the top-50 documents for
    the fixed query (join, filter, stream) — the ranked-search shape
    TF-IDF's per-doc top-terms entry doesn't cover, and the standard
    relevance scorer for corpus curation retrieval probes.

    Cross-engine determinism: tf/dl/df/N are exact integers, avgdl is
    one exact-integer division, and each (doc, term) partial score is
    computed with an identical double expression tree then quantized to
    integer micro-units BEFORE the per-doc sum — so the only
    order-sensitive aggregation is exact integer addition and the score
    column (``bm25_q``, micro-units) needs no terminal float rounding.

    Scale shape: term and length counts collapse map-side; the query-
    term filter prunes tf to #query_terms rows per matching doc before
    any join; df and the corpus stats are broadcast (3 rows + 1 row);
    the final top-50 is orderBy+limit → TakeOrderedAndProject
    (per-partition top-k, 50-row driver merge — never a global sort).
    No counterpart in the reference (batch tile pipeline only)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tc"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")
    ).select("n_docs", (F.col("tot") / F.col("n_docs")).alias("avgdl"))
    qtf = tf.where(F.col("term").isin("join", "filter", "stream"))
    dfreq = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    den = F.col("tc") + 1.2 * (
        0.25 + (0.75 * F.col("dl")) / F.col("avgdl")
    )
    sq = F.round((idf * (F.col("tc") * 2.2)) / den * 1e6, 0).cast("long")
    return (
        qtf.join(dl, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .select("doc_id", sq.alias("sq"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"), F.sum("sq").alias("bm25_q")
        )
        .orderBy(F.col("bm25_q").desc(), F.col("doc_id").asc())
        .limit(50)
    )


@register(
    "text_bigram_top20",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    grams AS (SELECT unnest({word_shingles_sql("toks", 2)}) AS bigram FROM t)
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def text_bigram_top20(spark, sf_dir):
    """Corpus-wide top-20 word bigrams (n-gram frequency).  The shingle
    expansion is a narrow array transform + explode; the count collapses
    map-side; the final top-20 is orderBy+limit → TakeOrderedAndProject
    (per-partition top-k, 20-row driver merge — never a full sort)."""
    docs = _t(spark, sf_dir, "documents")
    grams = docs.select(
        F.explode(word_shingles(tokens(F.col("text")), 2)).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@register(
    "udf_scalar_sigmoid_score",
    """
    SELECT event_id, round(1.0 / (1.0 + exp(-value / 100.0)), 6) AS sigmoid_score
    FROM events
    """,
)
def udf_scalar_sigmoid_score(spark, sf_dir):
    """The scalar pandas-UDF surface (Arrow batch in, Arrow batch out; the
    grouped-agg twin is udf_grouped_median, the grouped-map twin is the
    segmentation rasterizer).  numpy exp vs the oracle's differ by at most
    an ulp; rounding to 6dp makes the oracle exact."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def sigmoid_udf(v: pd.Series) -> pd.Series:
        x = v.to_numpy(dtype="float64") / 100.0
        return pd.Series(np.round(1.0 / (1.0 + np.exp(-x)), 6))

    ev = _t(spark, sf_dir, "events")
    return ev.select("event_id", sigmoid_udf("value").alias("sigmoid_score"))


def _neardup_srp_oracle(threshold: float = 0.35) -> str:
    from label_maker_dask_spark.functions.vectors import (
        normalized_sql,
        unit_dot_rounded_sql,
    )
    from label_maker_dask_spark.operators.similarity import srp_bucket_sql

    nv = normalized_sql("embedding")
    bucket = srp_bucket_sql("embedding")
    cos = unit_dot_rounded_sql("a.nv", "b.nv")
    return f"""
    WITH bs AS (SELECT vec_id, {nv} AS nv, {bucket} AS bucket FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine_sim
    FROM bs a JOIN bs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {cos} >= {threshold}
    """


@register("similarity_neardup_srp_ann", _neardup_srp_oracle())
def similarity_neardup_srp_ann(spark, sf_dir):
    """SRP-bucketed embedding near-dup (the 100 TB path for
    similarity_neardup_cosine, its exact brute-force twin): only pairs
    sharing a signed-random-projection bucket are scored, so pair cost
    follows bucket occupancy instead of corpus².  Recall < 1 vs brute
    force is the ANN contract (bounded in tests/test_similarity.py), but
    the bucketing is deterministic, so the oracle replays the same bucket
    join and the result hash-matches."""
    from label_maker_dask_spark.operators.similarity import (
        embedding_neardup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.35)


# GPT-2-style pre-tokenizer, reduced to the subset that parses identically
# under Java regex (Spark) and RE2 (DuckDB): letter runs, digit runs, and
# single non-alphanumeric marks.  (The original's contraction alternates
# and lookahead are not RE2-compatible; whitespace is spelled explicitly
# because Java's \\s includes \\x0B while RE2's does not.)
_BPE_RE = r"\p{L}+|\p{N}+|[^\p{L}\p{N} \t\n\x0B\f\r]"


@register(
    "text_bpe_token_counts",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS n_bpe_tokens,
           len({_TOKS_SQL}) AS n_ws_tokens,
           round(len(regexp_extract_all(text, '{_BPE_RE}'))::DOUBLE
                 / nullif(len({_TOKS_SQL}), 0), 6) AS tokens_per_word
    FROM documents
    """,
)
def text_bpe_token_counts(spark, sf_dir):
    """Token counting both ways — whitespace words and a BPE-ish
    pre-tokenizer regex (letter runs / digit runs / punctuation marks, the
    GPT-2 pre-tokenization shape) — plus their ratio, the standard
    tokens-per-word fertility estimate used for pre-training data budgets.
    Pure regexp column algebra, narrow, no UDF."""
    t = F.col("text")
    n_bpe = F.size(F.regexp_extract_all(t, F.lit(_BPE_RE), F.lit(0)))
    n_ws = F.size(tokens(t))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        n_bpe.alias("n_bpe_tokens"),
        n_ws.alias("n_ws_tokens"),
        F.round(n_bpe / F.nullif(n_ws, F.lit(0)), 6).alias("tokens_per_word"),
    )


@register(
    "text_unigram_logprob",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
    freq AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    tot AS (SELECT sum(cnt) AS total FROM freq)
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(ln(cnt::DOUBLE / total)), 6) AS avg_logprob
    FROM tok JOIN freq USING (term) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Perplexity-style quality scoring from a corpus-trained unigram LM:
    each document's mean token log-probability under the corpus's own
    token distribution — the statistical complement of the heuristic
    quality_score (low avg_logprob = rare-token soup; high = stopword
    soup; curation keeps the middle band).

    Scale shape: the token explode has three consumers (frequency agg,
    its total, the scoring join), and Spark does NOT common them — the
    lazy plan scans the corpus three times (verified: 3 parquet scans).
    That is the right trade at catalog scale; a production run persists
    the exploded (doc_id, term) frame once and cuts it to one scan +
    two cheap re-reads.  The LM itself is vocabulary-sized
    (Zipf-bounded, orders below corpus size) and the 1-row total is a
    broadcast.  FP contract: ln noise between engines is <=2 ulp per term
    (~1e-15 relative); the 6-dp round on a per-doc *mean* absorbs it."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # the vocabulary-sized LM feeds both the 1-row total and the scoring
    # join; checkpointing it removes one of the three corpus passes the
    # docstring describes (r18) — the exploded tok frame itself stays
    # unmaterialized (corpus-sized; measured a wash for tf-idf)
    freq = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = freq.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(freq, "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.avg(F.log(F.col("cnt") / F.col("total"))), 6
            ).alias("avg_logprob"),
        )
    )


def chunk_sliding(
    docs,
    max_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Sliding-window document chunking with overlap — the RAG/pretraining
    prep shape: each document yields ``ceil((n - overlap) / stride)``
    chunks of up to ``max_tokens`` whitespace tokens, consecutive chunks
    sharing ``overlap`` tokens so no span loses its context at a chunk
    boundary.  Empty documents yield no chunks; a document shorter than a
    window yields exactly one.

    Entirely built-in expressions (tokenize → per-doc chunk-index
    sequence → explode → slice → join): JVM-side, whole-stage codegen,
    fan-out bounded by n/stride — contrast ``udtf_chunk_documents``,
    which demonstrates the same shape through the Python-UDTF surface."""
    if overlap >= max_tokens:
        raise ValueError("overlap must be smaller than max_tokens")
    stride = max_tokens - overlap
    t = tokens(F.col(text_col))
    base = docs.select(
        F.col(id_col).alias("doc_id"), t.alias("_t"), F.size(t).alias("_n")
    ).where(F.col("_n") > 0)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("_n") - F.lit(overlap)) / F.lit(stride)).cast("int"),
    )
    exploded = base.select(
        "doc_id",
        "_t",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_t"), F.col("chunk_id") * stride + 1, max_tokens
    )
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def _chunk_sliding_oracle(max_tokens: int = 64, overlap: int = 16) -> str:
    stride = max_tokens - overlap
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
    chunks AS (
      SELECT doc_id, t,
             unnest(range(greatest(1,
               CAST(ceil((n - {overlap}) / {stride}.0) AS BIGINT)))) AS chunk_id
      FROM sized)
    SELECT doc_id, chunk_id,
           array_to_string(
             t[chunk_id * {stride} + 1 : chunk_id * {stride} + {max_tokens}],
             ' ') AS chunk_text,
           len(t[chunk_id * {stride} + 1 : chunk_id * {stride} + {max_tokens}])
             AS n_tokens
    FROM chunks
    """


@register("text_chunk_sliding_overlap", _chunk_sliding_oracle())
def text_chunk_sliding_overlap(spark, sf_dir):
    """64-token sliding chunks with 16-token overlap over every document
    (``chunk_sliding``) — the expression-only chunker whose fan-out and
    slicing the oracle replays with DuckDB list arithmetic."""
    return chunk_sliding(_t(spark, sf_dir, "documents"))


def _feat_hash_oracle(dim: int = 32) -> str:
    from label_maker_dask_spark.functions.text import char_poly_hash_sql

    fold = char_poly_hash_sql("('fh:' || tok)")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents),
    dims AS (
      SELECT doc_id, CAST(({fold}) % {dim} AS INT) AS dim FROM toks)
    SELECT doc_id, dim, count(*) AS tf
    FROM dims GROUP BY 1, 2
    """


@register("text_feature_hashing_vectors", _feat_hash_oracle())
def text_feature_hashing_vectors(spark, sf_dir):
    """Feature-hashing ("hashing trick") document vectors: every token
    maps to one of 32 dimensions via the cross-engine char fold, and
    the per-(doc, dim) term frequency IS the vector entry — model-free
    fixed-width embeddings (sklearn ``HashingVectorizer`` semantics,
    minus the alternating sign, which exists to debias dot products and
    would hide the tf counts this relational form exposes).  Emitted in
    LONG form (doc_id, dim, tf): the sparse-matrix layout downstream
    consumers join on — cosine via a dim-key self-join, or pivot to
    ``array<float>`` to enter the ANN operators (similarity.py) with no
    trained model anywhere.

    Scale shape: explode-tokens then ONE hash aggregate onto
    (docs x 32) keys, partial-aggregated map-side; no shuffle carries
    raw token text — only (doc_id, dim) pairs.  The char fold is the
    honest interpreted cost of cross-engine token hashing (cf. the
    profiler's string-column note); a production run would swap in
    xxhash64 once cross-engine replay is no longer the contract."""
    from label_maker_dask_spark.functions.text import char_poly_hash

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    dim = (
        char_poly_hash(F.concat(F.lit("fh:"), F.col("tok"))) % 32
    ).cast("int")
    return (
        toks.select("doc_id", dim.alias("dim"))
        .groupBy("doc_id", "dim")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@register(
    "text_vocab_coverage_top30",
    f"""
    WITH t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS term FROM t),
    c AS (SELECT term, count(*) AS n FROM tok GROUP BY 1),
    tot AS (SELECT sum(n) AS tt FROM c),
    top AS (SELECT term, n FROM c ORDER BY n DESC, term ASC LIMIT 30),
    r AS (SELECT term, n,
                 row_number() OVER (ORDER BY n DESC, term ASC) AS rank,
                 sum(n) OVER (ORDER BY n DESC, term ASC
                              ROWS UNBOUNDED PRECEDING) AS cum
          FROM top)
    SELECT rank, term, CAST(n AS BIGINT) AS n_tokens,
           round(n * 1.0 / tt, 6) AS share,
           round(cum * 1.0 / tt, 6) AS cumulative_coverage
    FROM r, tot
    """,
)
def text_vocab_coverage_top30(spark, sf_dir):
    """Vocabulary coverage curve: the corpus's top-30 tokens with each
    one's frequency share and the CUMULATIVE share — the first question
    of tokenizer-vocabulary design (how much of the token stream do the
    top-k types cover?).  Scale shape: token counts collapse map-side;
    the top-30 goes through orderBy+limit (TakeOrderedAndProject —
    per-partition top-k, a 30-row driver merge, never a full vocabulary
    sort); rank and the running coverage sum are windows over the
    ALREADY-LIMITED 30-row frame (bounded, single tiny partition by
    construction — the unpartitioned-window hazard only applies to
    unbounded inputs); the corpus token total joins as a 1-row
    broadcast."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("term"))
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("tt"))
    top = counts.orderBy(F.col("n").desc(), F.col("term").asc()).limit(30)
    w = Window.orderBy(F.col("n").desc(), F.col("term").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "cum",
            F.sum("n").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "rank",
            "term",
            F.col("n").alias("n_tokens"),
            F.round(F.col("n") / F.col("tt"), 6).alias("share"),
            F.round(F.col("cum") / F.col("tt"), 6).alias(
                "cumulative_coverage"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round-13 additions: quantized ANN, bigram-LM scoring, character entropy.
# ---------------------------------------------------------------------------


def _sq8_rescore_oracle(filter_pred: str, k: int = 5) -> str:
    from label_maker_dask_spark.operators.similarity import sq8_codes_sql

    return f"""
    WITH {sq8_codes_sql()}
    SELECT query_id, rank, neighbor_id, q8_score FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
                 i -> q.code[i] * c.code[i])) AS BIGINT) AS q8_score,
             row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(generate_series(1, 64),
                     i -> q.code[i] * c.code[i])) DESC, c.vec_id ASC) AS rank
      FROM codes q JOIN codes c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.{filter_pred}) WHERE rank <= {k}
    """


@register("similarity_sq8_rescore_ann", _sq8_rescore_oracle("vec_id % 25 = 0"))
def similarity_sq8_rescore_ann(spark, sf_dir):
    """Two-stage quantized ANN (similarity.sq8_rescore_topk): SRP buckets
    generate candidates, int8 scalar-quantized codes rescore them — the
    FAISS-SQ8 / vector-DB compression tier.  At 100 TB the win is memory
    traffic: the scoring join shuffles 1-byte-per-dim codes (64 B/vector)
    instead of float32 vectors (256 B), and the quantizer itself is one
    corpus agg collapsing to `dim` rows.  Scores are pure BIGINT dots, so
    the oracle hash-matches with NO float rounding contract — the only
    ANN entry in the catalog with exact integer semantics end-to-end.
    Same query subset as similarity_lsh_topk_ann, so recall of the
    quantized ranking is directly comparable (tests/test_similarity.py
    bounds it against exact cosine)."""
    from label_maker_dask_spark.operators.similarity import sq8_rescore_topk

    emb = _t(spark, sf_dir, "embeddings")
    return sq8_rescore_topk(emb, F.col("vec_id") % 25 == 0, k=5)


_BIGRAM_LM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
bg AS (
  SELECT doc_id, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
  FROM toks WHERE len(t) >= 2),
uni AS (
  SELECT term, count(*) AS cnt FROM
    (SELECT unnest(t) AS term FROM toks) GROUP BY term),
tot AS (SELECT sum(cnt) AS total FROM uni),
bgc AS (SELECT w1, w2, count(*) AS bcnt FROM bg GROUP BY w1, w2),
pfx AS (SELECT w1, sum(bcnt) AS pcnt FROM bgc GROUP BY w1)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(ln(0.75 * (bcnt::DOUBLE / pcnt)
                  + 0.25 * (cnt::DOUBLE / total))), 6) AS avg_logprob
FROM bg JOIN bgc USING (w1, w2) JOIN pfx USING (w1)
JOIN uni ON uni.term = bg.w2 CROSS JOIN tot
GROUP BY doc_id
"""


@register("text_bigram_logprob_interp", _BIGRAM_LM_ORACLE)
def text_bigram_logprob_interp(spark, sf_dir):
    """Perplexity filtering with a corpus-trained INTERPOLATED bigram LM
    (the KenLM-lite quality signal): each document's mean
    ln(0.75*P(w2|w1) + 0.25*P(w2)) over its bigram positions.  The
    unigram interpolation floor means unseen-in-context words degrade
    smoothly instead of -inf — the standard Jelinek-Mercer shape.
    Documents with <2 tokens have no bigram positions and are excluded
    (score undefined), matching the oracle exactly.

    Scale shape: like text_unigram_logprob but with a second Zipf-bounded
    model table (bigram counts) — the explode feeds frequency aggs that
    collapse map-side; scoring is three joins against model tables orders
    smaller than the corpus plus a broadcast 1-row total.  FP contract:
    one ln per position, 6-dp round on the per-doc mean."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens(F.col("text")).alias("t"))
    n = F.size("t")
    bg = (
        toks.where(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n - 1).alias("w1"),
                    F.slice(F.col("t"), F.lit(2), n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    # both model tables are Zipf-bounded (vocab / bigram-vocab sized) and
    # each feeds two plan branches (total/prefix agg + scoring join) —
    # checkpointing them cuts two full tokenize+explode corpus passes
    # (r18; the corpus-sized toks/bg frames stay unmaterialized)
    uni = (
        toks.select(F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("cnt").alias("total"))
    bgc = (
        bg.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .localCheckpoint(eager=False)
    )
    pfx = bgc.groupBy("w1").agg(F.sum("bcnt").alias("pcnt"))
    lp = F.log(
        0.75 * (F.col("bcnt") / F.col("pcnt"))
        + 0.25 * (F.col("cnt") / F.col("total"))
    )
    return (
        bg.join(bgc, ["w1", "w2"])
        .join(pfx, "w1")
        .join(uni, bg["w2"] == uni["term"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(lp), 6).alias("avg_logprob"),
        )
    )


_CHAR_ENTROPY_ORACLE = """
WITH ch AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ''), c -> c != '')) AS c
  FROM documents),
cc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
tot AS (SELECT doc_id, sum(cnt)::DOUBLE AS n FROM cc GROUP BY doc_id)
SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
       round(-sum((cnt / n) * ln(cnt / n)) / ln(2.0), 6) AS char_entropy_bits,
       CASE WHEN round(-sum((cnt / n) * ln(cnt / n)) / ln(2.0), 6) < 3.0
            THEN 1 ELSE 0 END AS low_entropy
FROM cc JOIN tot USING (doc_id)
GROUP BY doc_id, n
"""


@register("text_char_entropy", _CHAR_ENTROPY_ORACLE)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document (bits/char) — the
    cheapest junk detector in a pretraining curation funnel: keyboard
    mashing, repeated padding, and base64 blobs all sit far from natural
    text's ~4 bits.  Flag below 3.0 bits (computed on the ROUNDED value,
    so the boundary decision can't straddle an ulp).

    Scale shape: the char explode fans out ~n_chars rows but collapses
    immediately in a map-side partial count to (doc, distinct-char) —
    ~30-60 rows per doc; the entropy fold then runs per doc over that
    alphabet-sized frame.  FP contract: the per-doc sum has <=~60 terms
    of magnitude <=1; the 6-dp round absorbs summation-order noise.

    Unicode contract: Spark's ``split(text, '')`` is CODEPOINT-safe —
    the Java regex engine advances by code points, so an empty match
    never lands inside a surrogate pair (verified: both engines yield
    ['a','😀','b'] for 'a😀b') — and DuckDB's ``string_split(text, '')``
    splits by code point too, so non-BMP characters (emoji, rare CJK)
    count identically in both engines."""
    docs = _t(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("c")
    ).where(F.col("c") != "")
    # (doc x distinct-char) is alphabet-bounded per doc and feeds both
    # the per-doc total and the entropy join — checkpoint it so the char
    # explode + partial count runs once, not twice (r18)
    cc = (
        ch.groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    tot = cc.groupBy("doc_id").agg(F.sum("cnt").cast("double").alias("n"))
    p = F.col("cnt") / F.col("n")
    ent = F.round(-F.sum(p * F.log(p)) / F.log(F.lit(2.0)), 6)
    return (
        cc.join(tot, "doc_id")
        .groupBy("doc_id", "n")
        .agg(ent.alias("char_entropy_bits"))
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_chars"),
            "char_entropy_bits",
            F.when(F.col("char_entropy_bits") < 3.0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("low_entropy"),
        )
    )


def _pq_adc_oracle():
    from label_maker_dask_spark.operators.similarity import pq_adc_oracle_sql

    return pq_adc_oracle_sql("vec_id % 25 = 0")


@register("similarity_pq_adc_topk_ann", _pq_adc_oracle())
def similarity_pq_adc_topk_ann(spark, sf_dir):
    """Product-quantization ANN (similarity.pq_adc_topk): vectors stored
    as 8 one-byte subspace codes (16x smaller than float32), candidates
    from SRP buckets, ranking by asymmetric distance (ADC) — completing
    the FAISS-style triad next to the IVF coarse index and the SQ8
    scalar codes.  Codebooks train with deterministic lowest-id seeds +
    one integer-quantized Lloyd refinement (the clustering.py trick), so
    the DuckDB oracle replays TRAINING, encoding, and scoring exactly;
    the cross-subspace ADC sum is order-free integer addition on
    1e-9-quantized terms.  Recall vs exact cosine is bounded in
    tests/test_similarity.py."""
    from label_maker_dask_spark.operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, F.col("vec_id") % 25 == 0, k=5)


_SOURCE_KL_ORACLE = f"""
WITH tok AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
sc AS (SELECT source, term, count(*) AS scnt FROM tok GROUP BY 1, 2),
stot AS (SELECT source, sum(scnt) AS stot FROM sc GROUP BY 1),
cc AS (SELECT term, count(*) AS ccnt FROM tok GROUP BY 1),
ctot AS (SELECT sum(ccnt) AS ctot FROM cc)
SELECT source, max(stot)::BIGINT AS n_tokens,
       round(sum((scnt::DOUBLE / stot)
             * ln((scnt::DOUBLE / stot) / (ccnt::DOUBLE / ctot))), 6)
         AS kl_to_corpus
FROM sc JOIN stot USING (source) JOIN cc USING (term) CROSS JOIN ctot
GROUP BY source
"""


@register("text_source_kl_divergence", _SOURCE_KL_ORACLE)
def text_source_kl_divergence(spark, sf_dir):
    """Domain-shift scoring for mixture curation: KL(P_source || P_corpus)
    over token distributions, per source — the signal behind data-mixture
    weighting (an outlier source whose token distribution diverges from
    the pool gets inspected / down-weighted before pretraining).  No
    smoothing is needed: the corpus distribution includes every source,
    so P_corpus(t) > 0 wherever P_source(t) > 0 and the KL is finite by
    construction.

    Scale shape: both distributions are Zipf-bounded aggregates (the
    (source, term) matrix is #sources x vocab, orders below the corpus),
    the corpus-total is a broadcast 1-row frame, and the per-source KL
    sum runs over that bounded matrix — the corpus is scanned once per
    distribution and never joined row-to-row.  FP contract: vocab-sized
    double sum, 6-dp round (same tolerance class as the LM entries)."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("term"))
    # both distributions are Zipf-bounded aggregates feeding two branches
    # each (their totals + the KL join) — checkpoint them so the corpus
    # is tokenized twice (once per distribution), not four times (r18)
    sc = (
        tok.groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("scnt"))
        .localCheckpoint(eager=False)
    )
    stot = sc.groupBy("source").agg(F.sum("scnt").alias("stot"))
    cc = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("ccnt"))
        .localCheckpoint(eager=False)
    )
    ctot = cc.agg(F.sum("ccnt").alias("ctot"))
    ps = F.col("scnt") / F.col("stot")
    pc = F.col("ccnt") / F.col("ctot")
    return (
        sc.join(stot, "source")
        .join(cc, "term")
        .crossJoin(F.broadcast(ctot))
        .groupBy("source")
        .agg(
            F.max("stot").alias("n_tokens"),
            F.round(F.sum(ps * F.log(ps / pc)), 6).alias("kl_to_corpus"),
        )
    )


#: process-lifetime shared PQ index per sf_dir — the build (training +
#: write) runs once and its cost lands in the similarity_pq_index_build
#: bench cell, so the stored/join READ entries time the read path alone
#: (a read regression can't hide behind training noise).  Every entry
#: still builds on first use, so each is independently correct when run
#: in isolation.
_PQ_SHARED: dict = {}


def _pq_shared_index(spark, sf_dir, rebuild: bool = False) -> str:
    """``rebuild=True`` (the build entry) re-trains and re-writes EVERY
    invocation — bench runs best-of-2, and a build-once cache would let
    the second pass report a near-zero build cell (masking exactly the
    cost the phase split exists to expose).  The read entries pass
    ``rebuild=False`` and reuse whatever build ran last; the write is
    deterministic, so a rebuild never changes read results."""
    from label_maker_dask_spark.operators.similarity import write_pq_index
    path = _PQ_SHARED.get(sf_dir)
    if path is None or rebuild:
        if path is None:
            path = session_tmpdir("pq_index", "pq_shared") + "/index"
        write_pq_index(_t(spark, sf_dir, "embeddings"), path)
        _PQ_SHARED[sf_dir] = path
    return path


def _pq_build_oracle():
    from label_maker_dask_spark.operators.similarity import (
        pq_index_stats_oracle_sql,
    )

    return pq_index_stats_oracle_sql()


@register("similarity_pq_index_build", _pq_build_oracle())
def similarity_pq_index_build(spark, sf_dir):
    """The PQ index BUILD phase as its own gated entry: train codebooks,
    encode the corpus, persist (write_pq_index), then read back per-
    bucket content stats — vector count and two code checksums per SRP
    bucket.  The oracle replays training+encoding+bucketing in SQL, so
    a green row proves the persisted BYTES, and the bench cell carries
    the training/write cost so the stored/join read entries (which
    reuse this process-shared index) time the read path alone."""
    idx = _pq_shared_index(spark, sf_dir, rebuild=True)
    from label_maker_dask_spark.operators.index_layout import read_index

    ex = read_index(spark, idx).select(
        F.col("bucket").cast("int").alias("bucket"),
        "vec_id",
        F.posexplode("codes").alias("m0", "code"),
    )
    return ex.groupBy("bucket").agg(
        F.count_distinct("vec_id").alias("n_vectors"),
        F.sum("code").alias("code_sum"),
        F.sum((F.col("m0") + 1) * F.col("code")).alias("code_wsum"),
    )


@register("similarity_pq_stored_topk_ann", _pq_adc_oracle())
def similarity_pq_stored_topk_ann(spark, sf_dir):
    """The STORED form of the PQ index (similarity.write_pq_index +
    pq_adc_topk_stored): codebooks persist as a 128-row sidecar, vectors
    persist as 8 one-byte codes partitioned by SRP bucket, and the query
    path prunes non-probed buckets at the parquet scan — the at-rest
    shape a 100 TB deployment runs (the float corpus is cold storage;
    reads touch only probed buckets' codes).  Same oracle as
    similarity_pq_adc_topk_ann, so the driver hash-match is the proof
    that write-then-read returns exactly the on-the-fly results.  The
    index is the process-shared build (similarity_pq_index_build owns
    its bench cost); this entry times the broadcast-query READ path."""
    from label_maker_dask_spark.operators.similarity import pq_adc_topk_stored

    emb = _t(spark, sf_dir, "embeddings")
    path = _pq_shared_index(spark, sf_dir)
    return pq_adc_topk_stored(
        spark, path, emb.where(F.col("vec_id") % 25 == 0), k=5
    )


def _pq_join_oracle():
    from label_maker_dask_spark.operators.similarity import pq_adc_oracle_sql

    return pq_adc_oracle_sql("vec_id % 21 = 0")


@register("similarity_pq_join_topk_ann", _pq_join_oracle())
def similarity_pq_join_topk_ann(spark, sf_dir):
    """The corpus-sized-query form of the stored PQ index
    (similarity.pq_adc_topk_join, the PQ twin of
    similarity_ivf_join_topk_ann's shape): query buckets and subvectors
    stay distributed, candidates come from a shuffle join on the bucket
    id, and NOTHING reaches the driver — the k-NN-graph workload the
    broadcast form (capped query collect) deliberately refuses.  Same
    codes, same integer ADC fold, same oracle family — the hash gate
    proves join-form results equal the broadcast form's over the same
    stored index."""
    from label_maker_dask_spark.operators.similarity import pq_adc_topk_join

    emb = _t(spark, sf_dir, "embeddings")
    path = _pq_shared_index(spark, sf_dir)
    return pq_adc_topk_join(
        spark, path, emb.where(F.col("vec_id") % 21 == 0), k=5
    )


def _srp_skew_oracle():
    from label_maker_dask_spark.operators.similarity import srp_bucket_sql

    return f"""
    WITH b AS (SELECT {srp_bucket_sql("embedding")} AS bucket FROM embeddings),
    c AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS nbuckets,
                 CAST(sum(n * n) AS BIGINT) AS pairwork FROM c),
    top AS (SELECT bucket, n FROM c ORDER BY n DESC, bucket ASC LIMIT 20),
    r AS (SELECT bucket, n,
                 row_number() OVER (ORDER BY n DESC, bucket ASC) AS rank
          FROM top)
    SELECT rank, bucket, CAST(n AS BIGINT) AS n_vectors,
           round(n * 1.0 / tot, 6) AS share,
           round(n * n * 1.0 / pairwork, 6) AS pairwork_share,
           nbuckets AS n_buckets
    FROM r, t
    """


@register("profile_srp_bucket_skew", _srp_skew_oracle())
def profile_srp_bucket_skew(spark, sf_dir):
    """LSH bucket-skew profiler: the 20 heaviest SRP buckets with each
    one's occupancy share AND pair-work share (n_b^2 / sum n^2 — the
    fraction of the candidate join's pairwise cost that single bucket
    owns).  This is the pre-flight audit for every SRP-bucketed operator
    in the catalog (lsh_topk, sq8/pq rescoring, embedding near-dup): LSH
    candidate cost is sum-of-squares over bucket occupancy, so a bucket
    holding 5% of a 100 TB corpus owns ~60x its share of the join — the
    signal to raise n_planes, add multi-probe, or route that bucket
    through a capped/salted path BEFORE the job runs, exactly as
    profile_join_key_skew_lineitem informs the relational join choice.

    Scale shape: one map-side-collapsing count per bucket (<=256 groups),
    a 3-field broadcast total, TakeOrdered top-20; the bucket expression
    itself is the deterministic integer-arithmetic SRP fold."""
    from label_maker_dask_spark.operators.similarity import srp_bucket

    emb = _t(spark, sf_dir, "embeddings")
    counts = emb.select(srp_bucket(F.col("embedding")).alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("nbuckets"),
        F.sum(F.col("n") * F.col("n")).alias("pairwork"),
    )
    top = counts.orderBy(F.col("n").desc(), F.col("bucket").asc()).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("bucket").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "bucket",
            F.col("n").alias("n_vectors"),
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
            F.round(F.col("n") * F.col("n") / F.col("pairwork"), 6).alias(
                "pairwork_share"
            ),
            F.col("nbuckets").alias("n_buckets"),
        )
    )


def _hotbucket_oracle():
    from label_maker_dask_spark.operators.similarity import (
        sq8_codes_sql,
        srp_bucket_sql,
    )

    bucket = srp_bucket_sql("embedding")
    codes_cte = sq8_codes_sql(table="embeddings2").lstrip()
    return f"""
    WITH hub AS (SELECT embedding AS hub_vec FROM embeddings WHERE vec_id = 0),
    mod AS (
      SELECT e.vec_id,
             CASE WHEN e.vec_id % 10 < 3 THEN h.hub_vec
                  ELSE e.embedding END AS embedding
      FROM embeddings e CROSS JOIN hub h),
    embeddings2 AS (SELECT * FROM mod),
    {codes_cte},
    reps AS (SELECT min(vec_id) AS vec_id FROM codes GROUP BY code),
    dedup AS (SELECT m.vec_id, m.embedding FROM mod m JOIN reps USING (vec_id)),
    s1 AS (
      SELECT 'adversarial' AS stage, bucket, count(*) AS n FROM
        (SELECT {bucket} AS bucket FROM mod AS t(vec_id, embedding))
      GROUP BY 2),
    s2 AS (
      SELECT 'code_deduped' AS stage, bucket, count(*) AS n FROM
        (SELECT {bucket} AS bucket FROM dedup AS t(vec_id, embedding))
      GROUP BY 2),
    u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
    SELECT stage, CAST(sum(n) AS BIGINT) AS n_vectors,
           CAST(count(*) AS BIGINT) AS n_buckets,
           round(max(n) * 1.0 / sum(n), 6) AS top_share,
           round(max(n * n) * 1.0 / sum(n * n), 6) AS top_pairwork_share
    FROM u GROUP BY stage
    """


@register("similarity_hotbucket_dedup_adversarial", _hotbucket_oracle())
def similarity_hotbucket_dedup_adversarial(spark, sf_dir):
    """The LSH hot-bucket pathology and its production fix, end-to-end
    under the gate.  Adversarial corpus: 30% of all vectors replaced by
    ONE hub vector — duplicate-heavy crawls do this, and no amount of
    extra hyperplanes splits identical vectors, so one SRP bucket owns
    ~(0.3N)^2 of the candidate join (top_pairwork_share ~0.9 in the
    'adversarial' row).  The fix quantization enables: SQ8 code arrays
    are an exact-duplicate signature (identical vectors -> identical
    codes), so grouping by code and keeping the lowest id collapses the
    hub to one representative BEFORE indexing — the 'code_deduped' row's
    pair-work share drops back to the natural distribution.  This is the
    profile_srp_bucket_skew -> dedup -> index pipeline a 100 TB corpus
    runs when the profiler flags a hot bucket.

    Scale shape: the corpus modification is a broadcast of one hub row;
    code-signature dedup is a hash aggregate on 64-byte keys (map-side
    collapsing — exactly exact-dedup's shape); both profile stages are
    <=256-group aggregates."""
    from label_maker_dask_spark.operators.similarity import (
        sq8_encode,
        sq8_train_ranges,
        srp_bucket,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    hub = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("hub_vec")
    )
    mod = emb.crossJoin(F.broadcast(hub)).select(
        "vec_id",
        F.when(F.col("vec_id") % 10 < 3, F.col("hub_vec"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )

    def stage_stats(df, stage):
        counts = df.select(
            srp_bucket(F.col("embedding")).alias("bucket")
        ).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
        nn = F.col("n") * F.col("n")
        # groupBy on the stage literal (not a global agg): an empty
        # corpus yields ZERO rows, matching the oracle's GROUP BY
        return counts.groupBy(F.lit(stage).alias("stage")).agg(
            F.sum("n").alias("n_vectors"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.max("n") / F.sum("n"), 6).alias("top_share"),
            F.round(F.max(nn) / F.sum(nn), 6).alias("top_pairwork_share"),
        )

    ranges = sq8_train_ranges(mod)
    coded = sq8_encode(mod, ranges)
    reps = coded.groupBy("code").agg(F.min("vec_id").alias("vec_id")).select(
        "vec_id"
    )
    dedup = mod.join(reps, "vec_id")
    return stage_stats(mod, "adversarial").unionByName(
        stage_stats(dedup, "code_deduped")
    )


def _bpe_merges_oracle():
    from label_maker_dask_spark.operators.bpe import bpe_merges_oracle_sql

    return bpe_merges_oracle_sql(12)


@register("text_bpe_train_merges", _bpe_merges_oracle())
def text_bpe_train_merges(spark, sf_dir):
    """Distributed BPE merge TRAINING (operators/bpe.py) — the
    tokenizer-training operator the counting-side text entries assume:
    one corpus-scale word-frequency pass, then 12 merge rounds over the
    Zipf-bounded word-TYPE table (pair counts weighted by frequency,
    global argmax with byte-order tie-break, one literal boundary-safe
    replace per round; exactly one row reaches the driver per round).
    The oracle unrolls all 12 rounds with materialized CTEs, so the
    hash gate proves training end-to-end — the learned merge list IS
    the output artifact."""
    from label_maker_dask_spark.operators.bpe import bpe_train_merges

    return bpe_train_merges(_t(spark, sf_dir, "documents"), rounds=12)


def _bpe_tokenize_oracle():
    from label_maker_dask_spark.operators.bpe import bpe_tokenize_oracle_sql

    return bpe_tokenize_oracle_sql(12)


@register("text_bpe_tokenize_corpus", _bpe_tokenize_oracle())
def text_bpe_tokenize_corpus(spark, sf_dir):
    """The trained BPE tokenizer APPLIED: per-document word and symbol
    counts under the 12-merge tokenizer text_bpe_train_merges learns —
    train → apply → count as one gated loop (the compression-ratio
    signal a tokenizer-sizing pass reads).  Application is a broadcast
    join of each document's tokens against the Zipf-bounded word-type
    table (word → n_symbols); no merge ever re-runs per document."""
    from label_maker_dask_spark.operators.bpe import (
        bpe_tokenized_words,
        doc_word_rows,
    )

    docs = _t(spark, sf_dir, "documents")
    wl = bpe_tokenized_words(docs, rounds=12)
    return (
        doc_word_rows(docs)
        .join(F.broadcast(wl.select("word", "n_symbols")), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_symbols"),
        )
    )


def _bpe_vocab_oracle():
    from label_maker_dask_spark.operators.bpe import bpe_vocab_oracle_sql

    return bpe_vocab_oracle_sql(12)


@register("text_bpe_vocab", _bpe_vocab_oracle())
def text_bpe_vocab(spark, sf_dir):
    """The trained tokenizer's VOCABULARY (operators/bpe.py
    bpe_symbol_vocab): every symbol after 12 merges with its word-type
    spread and frequency-weighted corpus count — completing the BPE
    triad (merge list -> vocabulary -> corpus application) under the
    same unrolled training oracle.  The vocab table is alphabet + 12
    merged symbols at most — tiny, but each row's counts fold the whole
    type table, so the gate checks the final training state
    exhaustively."""
    from label_maker_dask_spark.operators.bpe import bpe_symbol_vocab

    return bpe_symbol_vocab(_t(spark, sf_dir, "documents"), rounds=12)
