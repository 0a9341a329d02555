"""Training-data pipeline extension queries (SURVEY.md §2.B): deterministic
dataset splits, stratified sampling, PII scanning/redaction, benchmark
contamination, repetition scoring, and dedup-group resolution (connected
components).

Registered into the shared QUERIES/ORACLES catalog like the other
``queries_*_ext`` modules (imported from the end of ``queries``).

The synthetic corpus contains no real PII, so the PII entry synthesizes
deterministic PII-bearing suffixes (keyed on doc_id) identically in both
engines before scanning — the regex/redaction plumbing is what's under
test, not the corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from label_maker_dask_spark.operators.materialize import materialize

from label_maker_dask_spark.functions.text import (
    char_poly_hash_sql,
    word_shingles_sql,
)
from label_maker_dask_spark.operators.dedup import (
    doc_shingles,
    duplicate_components,
)
from label_maker_dask_spark.operators.pipeline import (
    EMAIL_RE,
    PHONE_RE,
    URL_RE,
    contamination_overlap,
    hash_split,
    pii_scan,
    redact_pii,
    repetition_scores,
    split_bucket_sql,
    stratified_sample_hash,
)
from label_maker_dask_spark.queries_shared import (
    _PUNCT_RE,
    _TOKS_SQL,
    _minhash_oracle,
    _shingle_cte,
    _t,
    components_cte,
    components_oracle as _components_oracle,
    register,
)


@register(
    "split_hash_train_val_test",
    f"""
    WITH b AS (SELECT source, {split_bucket_sql('doc_id')} AS bucket
               FROM documents)
    SELECT source,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs
    FROM b GROUP BY 1, 2
    """,
)
def split_hash_train_val_test(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by salted hash of the
    doc id (never rand(): stable across runs, engines, retries, and
    repartitioning), counted per source."""
    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs)
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "sample_stratified_by_lang",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE {char_poly_hash_sql("('sample:' || lang || '|' || doc_id::VARCHAR)")}
          % 100 < 20
    """,
)
def sample_stratified_by_lang(spark, sf_dir):
    """Deterministic ~20% sample within each language stratum — the salted
    hash makes per-stratum selections independent and reproducible (unlike
    sampleBy, a retry or rerun yields the identical sample)."""
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample_hash(docs, "lang", pct=20).select("doc_id", "lang")


_PII_AUG_SQL = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id::VARCHAR || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call +1 555 0199 now' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN ' see https://example.com/d/' || doc_id::VARCHAR
            ELSE '' END
"""


@register(
    "pii_regex_scan",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
           len(regexp_extract_all(text, '{URL_RE}')) AS n_urls,
           (len(regexp_extract_all(text, '{EMAIL_RE}'))
            + len(regexp_extract_all(text, '{PHONE_RE}'))
            + len(regexp_extract_all(text, '{URL_RE}'))) > 0 AS has_pii,
           length(regexp_replace(regexp_replace(regexp_replace(text,
                  '{EMAIL_RE}', '<EMAIL>', 'g'),
                  '{PHONE_RE}', '<PHONE>', 'g'),
                  '{URL_RE}', '<URL>', 'g')) AS redacted_len
    FROM aug
    """,
)
def pii_regex_scan(spark, sf_dir):
    """PII triage + redaction over a deterministically PII-augmented copy
    of the corpus: per-doc email/phone/URL match counts, a combined flag,
    and the redacted text length.  Pure regexp column algebra — the
    patterns are written to parse identically under Java and RE2."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), did, F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit(" call +1 555 0199 now"))
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" see https://example.com/d/"), did),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scan(aug).select(
        "doc_id",
        "n_emails",
        "n_phones",
        "n_urls",
        "has_pii",
        F.length(redact_pii(F.col("text"))).alias("redacted_len"),
    )


@register(
    "contamination_3gram_overlap",
    f"""
    WITH {_shingle_cte()},
    bench AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 97 = 0),
    corp AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 != 0)
    SELECT c.doc_id,
           count(DISTINCT b.bench_id) AS n_bench_matched,
           count(DISTINCT c.sh) AS n_shared_shingles
    FROM corp c JOIN bench b ON c.sh = b.sh
    GROUP BY 1
    """,
)
def contamination_3gram_overlap(spark, sf_dir):
    """Benchmark-contamination check: corpus docs sharing word 3-grams with
    the held-out benchmark slice (doc_id % 97 = 0 stands in for an eval
    set).  The benchmark shingle set is broadcast — the corpus never
    shuffles.  (Production uses 8-13-grams; the synthetic corpus is short
    word-soup, so 3-grams keep the check non-degenerate.)"""
    docs = _t(spark, sf_dir, "documents")
    # filter BEFORE shingling: the bench pass tokenizes ~1% of the corpus
    # instead of re-shingling the whole table twice
    bench = doc_shingles(docs.where(F.col("doc_id") % 97 == 0))
    corpus = doc_shingles(docs.where(F.col("doc_id") % 97 != 0))
    return contamination_overlap(corpus, bench)


@register(
    "text_repetition_bigrams",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bg AS (SELECT doc_id, {word_shingles_sql('toks', 2)} AS bigrams FROM t),
    nz AS (SELECT * FROM bg WHERE len(bigrams) > 0),
    ex AS (SELECT doc_id, unnest(bigrams) AS b FROM nz),
    cnt AS (SELECT doc_id, b, count(*) AS c FROM ex GROUP BY 1, 2)
    SELECT doc_id,
           round(count(*)::DOUBLE / sum(c), 6) AS distinct_bigram_ratio,
           max(c) AS max_bigram_count
    FROM cnt GROUP BY doc_id
    """,
)
def text_repetition_bigrams(spark, sf_dir):
    """Per-doc repetition metrics over word bigrams (low distinct ratio =
    repetitive boilerplate, the classic pre-training quality filter)."""
    docs = _t(spark, sf_dir, "documents")
    return repetition_scores(docs)


@register("dedup_components_minhash", _components_oracle())
def dedup_components_minhash(spark, sf_dir):
    """Resolve pairwise near-dup hits (MinHash+LSH candidates verified at
    exact Jaccard >= 0.12 — the 100 TB pair-generation path) into dedup
    groups via connected components (iterative min-label propagation; the
    oracle replays it with a recursive CTE).  Component = min reachable
    doc id = the canonical doc to keep."""
    from label_maker_dask_spark.operators.dedup import minhash_neardup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(docs, k=16, bands=4, threshold=0.12)
    return duplicate_components(pairs)


def _pack_oracle(seq_len: int = 512, n_buckets: int = 32) -> str:
    bucket = split_bucket_sql("doc_id", salt="pack")
    return f"""
    WITH t AS (
      SELECT doc_id, ({bucket}) % {n_buckets} AS bucket,
             len({_TOKS_SQL}) AS n_tok
      FROM documents),
    c AS (
      SELECT doc_id, bucket, n_tok,
             sum(n_tok) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS start_offset
      FROM t)
    SELECT bucket, CAST(floor(start_offset / {seq_len}) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1, 2
    """


@register("pack_sequences_512", _pack_oracle())
def pack_sequences_512(spark, sf_dir):
    """Concat-and-chunk sequence packing into 512-token windows, summarized
    per (bucket, pack): deterministic hash-bucketed streams, per-bucket
    windows only (no global sort at any scale)."""
    from label_maker_dask_spark.functions.text import tokens
    from label_maker_dask_spark.operators.pipeline import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    # n_buckets pinned so the oracle's % 32 matches and the plan stays lazy;
    # production callers omit it and get volume-derived buckets
    packed = pack_sequences(
        docs, F.size(tokens(F.col("text"))), seq_len=512, n_buckets=32
    )
    return packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


def _kmv_oracle(k: int = 64) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('kmv:' || user_id::VARCHAR)")
    return f"""
    WITH raw AS (SELECT DISTINCT event_type, {fold} AS r FROM events),
    h AS (SELECT DISTINCT event_type, (r * r % {HASH_P}) * r % {HASH_P} AS h
          FROM raw),
    r AS (SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
    t AS (SELECT event_type, max(h) AS kth, count(*) AS n_seen
          FROM r WHERE rn <= {k} GROUP BY 1)
    SELECT event_type,
           CASE WHEN n_seen < {k} THEN n_seen::DOUBLE
                ELSE round({(k - 1) * HASH_P} / kth, 6) END AS approx_distinct
    FROM t
    """


def _sampled_pct_oracle(k: int = 256) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('pct:' || event_id::VARCHAR)")
    return f"""
    WITH raw AS (SELECT event_type, event_id, value, {fold} AS r FROM events),
    h AS (SELECT event_type, event_id, value,
                 (r * r % {HASH_P}) * r % {HASH_P} AS h FROM raw),
    rk AS (SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY h, event_id) AS rn
           FROM h)
    SELECT event_type, count(*) AS n_sampled,
           round(quantile_cont(value, 0.5), 6) AS p5,
           round(quantile_cont(value, 0.9), 6) AS p9,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM rk WHERE rn <= {k} GROUP BY event_type
    """


@register("agg_approx_percentiles_sampled", _sampled_pct_oracle())
def agg_approx_percentiles_sampled(spark, sf_dir):
    """Approximate value percentiles per event type via a deterministic
    bottom-k-by-salted-hash row sample + exact interpolated percentiles
    over the sample (operators/pipeline.sampled_percentiles).  The
    sketch-free twin of approx_percentile: pure function of the data, so
    DuckDB's quantile_cont over the same sample replays it exactly."""
    from label_maker_dask_spark.operators.pipeline import sampled_percentiles

    ev = _t(spark, sf_dir, "events")
    return sampled_percentiles(
        ev, "value", ["event_type"], "event_id", ps=(0.5, 0.9, 0.99), k=256
    )


@register("agg_approx_distinct_users", _kmv_oracle())
def agg_approx_distinct_users(spark, sf_dir):
    """K-minimum-values distinct-user sketch per event type — the catalog's
    approximate-distinct entry.  Unlike HLL, the KMV estimate is a pure
    function of the data (mergeable, error ~1/sqrt(k)), so the oracle
    replays it exactly and the driver hash-checks it; raw
    approx_count_distinct (HLL) remains a non-catalog convenience
    (queries.approx_distinct_hll)."""
    from label_maker_dask_spark.operators.pipeline import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, "user_id", ["event_type"], k=64)


@register(
    "window_ntile_length_deciles",
    """
    WITH r AS (
      SELECT doc_id, n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents)
    SELECT decile, count(*) AS n_docs,
           min(n_chars) AS min_chars, max(n_chars) AS max_chars
    FROM r GROUP BY decile
    """,
)
def window_ntile_length_deciles(spark, sf_dir):
    """Document-length deciles via NTILE (deterministic: doc_id tiebreak).
    NOTE the global window is a deliberate small-data shape — at 100 TB the
    same binning comes from approxQuantile boundaries broadcast as a CASE
    expression (no single-partition sort); this entry pins the semantics."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    w = Window.orderBy("n_chars", "doc_id")
    return (
        docs.select("doc_id", "n_chars", F.ntile(10).over(w).alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


def _quality_sql() -> str:
    """DuckDB rendering of functions/text.quality_score over columns
    ``text`` + ``toks`` — shared by every oracle that gates on quality so
    the (FP-epsilon-shifted) band bounds exist in exactly one place."""
    from label_maker_dask_spark.functions.text import STOPWORDS

    punct = _PUNCT_RE.replace("'", "''")
    return f"""
      ((CASE WHEN len(toks) BETWEEN 5 AND 5000 THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN length(regexp_replace(text, '{punct}', '', 'g'))
                  ::DOUBLE / length(text) < 0.2 THEN 1.0 ELSE 0.0 END)
     + (CASE WHEN len(list_filter(toks, t -> list_contains({STOPWORDS!r}, lower(t))))
                  ::DOUBLE / len(toks) BETWEEN 0.0100000001 AND 0.6999999999
             THEN 1.0 ELSE 0.0 END)) / 3.0
    """


def _curation_e2e_oracle(seq_len: int = 512, n_buckets: int = 32) -> str:
    quality = _quality_sql()
    split = split_bucket_sql("doc_id")
    pack_bucket = split_bucket_sql("doc_id", salt="pack")
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, comp) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
    comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
    scored AS (
      SELECT doc_id, toks, {quality} AS quality
      FROM (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents)),
    surv AS (
      SELECT s.doc_id, s.toks FROM scored s
      LEFT JOIN comps c ON c.id = s.doc_id
      WHERE (c.id IS NULL OR c.component = s.doc_id)
        AND s.quality >= 0.6
        AND ({split}) < 80),
    t AS (SELECT doc_id, ({pack_bucket}) % {n_buckets} AS bucket,
                 len(toks) AS n_tok
          FROM surv),
    c2 AS (SELECT doc_id, bucket, n_tok,
                  sum(n_tok) OVER (
                    PARTITION BY bucket ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
                    AS start_offset
           FROM t)
    SELECT bucket, CAST(floor(start_offset / {seq_len}) AS BIGINT) AS pack_id,
           count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM c2 GROUP BY 1, 2
    """


@register("curation_end_to_end", _curation_e2e_oracle())
def curation_end_to_end(spark, sf_dir):
    """The full training-data curation pipeline composed as ONE lazy plan —
    near-dup group resolution (MinHash+LSH pairs -> connected components,
    keep the canonical doc), quality filtering (score >= 2/3), the
    deterministic train split, and concat-and-chunk sequence packing —
    summarized per (bucket, pack).  Every stage is the same operator the
    standalone entries use; the oracle replays the whole composition,
    recursive CTE included.

    Scale: dedup pairs come from the LSH path (no corpus^2); the quality
    filter and split are narrow column maps applied before the packing
    shuffle, so the window only sees surviving documents."""
    from label_maker_dask_spark.functions.text import quality_score, tokens
    from label_maker_dask_spark.operators.dedup import minhash_neardup_pairs
    from label_maker_dask_spark.operators.pipeline import (
        pack_sequences,
        split_bucket,
    )

    docs = _t(spark, sf_dir, "documents")
    comp = duplicate_components(
        minhash_neardup_pairs(docs, k=16, bands=4, threshold=0.12)
    ).select(F.col("doc_id").alias("c_id"), "component")
    survivors = (
        docs.join(comp, docs["doc_id"] == F.col("c_id"), "left")
        .where(F.col("c_id").isNull() | (F.col("component") == F.col("doc_id")))
        .where(quality_score(F.col("text")) >= 0.6)
        .where(split_bucket(F.col("doc_id")) < 80)
        .select("doc_id", "text")
    )
    packed = pack_sequences(
        survivors, F.size(tokens(F.col("text"))), seq_len=512, n_buckets=32
    )
    return packed.groupBy("bucket", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
    )


def _kmv_merged_oracle(k: int = 64) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('kmv:' || user_id::VARCHAR)")
    return f"""
    WITH raw AS (SELECT DISTINCT date_trunc('week', ts) AS week, {fold} AS r
                 FROM events),
    h AS (SELECT DISTINCT week, (r * r % {HASH_P}) * r % {HASH_P} AS h
          FROM raw),
    r AS (SELECT week, h,
                 row_number() OVER (PARTITION BY week ORDER BY h) AS rn
          FROM h),
    t AS (SELECT week, max(h) AS kth, count(*) AS n_seen
          FROM r WHERE rn <= {k} GROUP BY 1)
    SELECT week,
           CASE WHEN n_seen < {k} THEN n_seen::DOUBLE
                ELSE round({(k - 1) * HASH_P} / kth, 6) END AS approx_distinct
    FROM t
    """


@register("agg_kmv_merged_weekly_users", _kmv_merged_oracle())
def agg_kmv_merged_weekly_users(spark, sf_dir):
    """Weekly distinct-user estimates assembled by MERGING daily KMV
    sketches (operators/pipeline.kmv_distinct_merged) — the
    pre-aggregated-sketch rollup a 100 TB pipeline stores (daily sketches
    written once; any coarser grain answered from k-row sketches, never a
    fact rescan).  The oracle computes the DIRECT weekly sketch: KMV
    merge is provably lossless (bottom-k of unioned bottom-k's equals
    bottom-k of the union), so the hash-match proves the merge path exact."""
    from label_maker_dask_spark.operators.pipeline import kmv_distinct_merged

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    return kmv_distinct_merged(ev, "user_id", ["week"], ["day"], k=64)


def _weighted_sample_oracle() -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('wsample:' || doc_id::VARCHAR)")
    return f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars, {_quality_sql()} AS q
      FROM (SELECT doc_id, lang, n_chars, text, {_TOKS_SQL} AS toks
            FROM documents)),
    hashed AS (
      SELECT doc_id, lang, n_chars, q, {fold} AS r FROM scored)
    SELECT doc_id, lang, n_chars, round(q, 6) AS quality
    FROM hashed
    WHERE ((r * r % {HASH_P}) * r % {HASH_P})::DOUBLE / {HASH_P} < q
    """


@register("sample_weighted_by_quality", _weighted_sample_oracle())
def sample_weighted_by_quality(spark, sf_dir):
    """Importance sampling for curation: each document survives with
    probability equal to its own quality score
    (operators/pipeline.weighted_sample) — top-quality docs always kept,
    zero-quality never, the middle kept proportionally.  The keep
    decision is ``hash_unit(doc_id) < quality``: a pure narrow filter,
    reproducible across runs/engines/partitionings (never ``rand()``,
    whose per-task streams make retries non-deterministic)."""
    from label_maker_dask_spark.functions.text import quality_score
    from label_maker_dask_spark.operators.pipeline import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    q = quality_score(F.col("text"))
    kept = weighted_sample(docs.withColumn("q", q), F.col("doc_id"), F.col("q"))
    return kept.select(
        "doc_id", "lang", "n_chars", F.round("q", 6).alias("quality")
    )


@register(
    "sample_exact_k_per_lang",
    f"""
    WITH h AS (
      SELECT doc_id, lang,
             {char_poly_hash_sql("('exactk:' || doc_id::VARCHAR)")} AS hk
      FROM documents),
    r AS (
      SELECT doc_id, lang, hk,
             row_number() OVER (
               PARTITION BY lang ORDER BY hk, doc_id) AS rn
      FROM h)
    SELECT lang, rn AS pick, doc_id FROM r WHERE rn <= 20
    """,
)
def sample_exact_k_per_lang(spark, sf_dir):
    """EXACT-k stratified sample: exactly 20 documents per language,
    chosen by ranking a salted deterministic hash — the fixed-size
    validation/eval-set builder.  The hash-threshold samplers
    (``sample_weighted_by_quality``) give an *expected* rate per
    stratum; eval sets need exact sizes, stable across runs, engines and
    repartitioning (never ``rand()``).  Plan shape: one window per
    stratum with WindowGroupLimit pushdown — each task keeps its own
    top-k before the exchange, so the shuffle carries ~k rows per
    (partition, stratum), never the corpus."""
    from pyspark.sql import Window

    from label_maker_dask_spark.functions.text import char_poly_hash

    docs = _t(spark, sf_dir, "documents")
    h = docs.select(
        "doc_id",
        "lang",
        char_poly_hash(
            F.concat(F.lit("exactk:"), F.col("doc_id").cast("string"))
        ).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        h.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= 20)
        .select("lang", "pick", "doc_id")
    )


def _kmv_trailing_oracle(window_days: int = 7, k: int = 64) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('kmv:' || user_id::VARCHAR)")
    return f"""
    WITH raw AS (SELECT DISTINCT date_trunc('day', ts) AS day, {fold} AS r
                 FROM events),
    h AS (SELECT DISTINCT day, (r * r % {HASH_P}) * r % {HASH_P} AS h
          FROM raw),
    days AS (SELECT DISTINCT day FROM h),
    win AS (SELECT DISTINCT d.day AS day, x.h
            FROM days d JOIN h x
              ON x.day <= d.day
             AND x.day > d.day - INTERVAL {window_days} DAY),
    r AS (SELECT day, h,
                 row_number() OVER (PARTITION BY day ORDER BY h) AS rn
          FROM win),
    t AS (SELECT day, max(h) AS kth, count(*) AS n_seen
          FROM r WHERE rn <= {k} GROUP BY 1)
    SELECT day,
           CASE WHEN n_seen < {k} THEN n_seen::DOUBLE
                ELSE round({(k - 1) * HASH_P} / kth, 6) END AS approx_distinct
    FROM t
    """


@register("agg_kmv_trailing7_users", _kmv_trailing_oracle())
def agg_kmv_trailing7_users(spark, sf_dir):
    """Rolling 7-day distinct-user estimates from merged daily KMV
    sketches (operators/pipeline.kmv_distinct_trailing) — the sliding
    twin of the weekly grain rollup: daily sketches are built once, each
    day's window merges <= 7 x k sketch rows, and the oracle's DIRECT
    per-window sketch hash-matches because the merge is lossless."""
    from label_maker_dask_spark.operators.pipeline import (
        kmv_distinct_trailing,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    return kmv_distinct_trailing(ev, "user_id", "day", window_days=7, k=64)


_TRAILING_DISTINCT_EXACT_ORACLE = """
WITH pd AS (
  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
tgt AS (SELECT DISTINCT day FROM pd)
SELECT t.day AS day,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS distinct_users_7d
FROM tgt t JOIN pd p
  ON p.day <= t.day AND p.day > t.day - INTERVAL 7 DAY
GROUP BY 1
"""


@register(
    "window_trailing7_distinct_users_exact", _TRAILING_DISTINCT_EXACT_ORACLE
)
def window_trailing7_distinct_users_exact(spark, sf_dir):
    """EXACT trailing-7-day distinct users per day — the exact twin of
    ``agg_kmv_trailing7_users``.  Spark has no ``count(distinct) OVER``
    (distinct is not decomposable over sliding frames), and the naive
    day x fact range join is |fact| x |days| nested-loop work.  The
    scalable lowering: distinct (user, day) pairs (the only state a
    distinct count can depend on), each EXPLODED to the <= 7 trailing
    target days it contributes to (``sequence`` of day timestamps — a
    bounded x7 narrow fan-out, NOT a range join), equi-joined to the
    observed-day spine (broadcast — calendar-sized), then ONE
    countDistinct shuffle keyed by target day.  Work is
    O(active-pairs x window / day) with no nested loop anywhere; the
    KMV twin remains the sub-linear-state path when windows or
    cardinalities grow past exact-count budgets."""
    ev = _t(spark, sf_dir, "events")
    # the distinct (day, user) state feeds both the day spine and the
    # trailing fan-out — checkpoint it so the fact scan + distinct
    # shuffle (the only fact-sized work here) runs once, not twice (r18)
    pairs = ev.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct().localCheckpoint(eager=False)
    days = pairs.select("day").distinct()
    contrib = pairs.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("day"),
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
    )
    return (
        contrib.join(F.broadcast(days), "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("distinct_users_7d"))
    )


def _trailing_pct_oracle(window_days: int = 7, k: int = 256) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('pct:' || event_id::VARCHAR)")
    return f"""
    WITH raw AS (SELECT date_trunc('day', ts) AS day, event_id, value,
                        {fold} AS r FROM events),
    h AS (SELECT day, event_id, value,
                 (r * r % {HASH_P}) * r % {HASH_P} AS h FROM raw),
    days AS (SELECT DISTINCT day FROM h),
    win AS (SELECT d.day AS day, x.event_id, x.value, x.h
            FROM days d JOIN h x
              ON x.day <= d.day
             AND x.day > d.day - INTERVAL {window_days} DAY),
    rk AS (SELECT day, value,
                  row_number() OVER (PARTITION BY day
                                     ORDER BY h, event_id) AS rn
           FROM win)
    SELECT day, count(*) AS n_sampled,
           round(quantile_cont(value, 0.5), 6) AS p5,
           round(quantile_cont(value, 0.9), 6) AS p9
    FROM rk WHERE rn <= {k} GROUP BY day
    """


@register("timeseries_trailing_p90_value", _trailing_pct_oracle())
def timeseries_trailing_p90_value(spark, sf_dir):
    """Rolling 7-day p50/p90 of event values from merged daily
    hash-samples (operators/pipeline.sampled_percentiles_trailing) —
    the order-statistic twin of the trailing KMV: daily samples built
    once, each day's window merges <= 7 x k sample rows, and the oracle's
    direct per-window sample hash-matches because bottom-k-by-hash
    merging is lossless."""
    from label_maker_dask_spark.operators.pipeline import (
        sampled_percentiles_trailing,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_id", "value"
    )
    return sampled_percentiles_trailing(
        ev, "value", "day", "event_id", window_days=7, ps=(0.5, 0.9), k=256
    )


def _leakage_safe_split_oracle() -> str:
    split_g = split_bucket_sql("grp")
    return f"""
    {components_cte()},
    grouped AS (
      SELECT d.doc_id, coalesce(c.component, d.doc_id) AS grp,
             (c.id IS NOT NULL) AS linked
      FROM documents d LEFT JOIN comps c ON c.id = d.doc_id),
    assigned AS (
      SELECT doc_id, grp, linked,
             CASE WHEN ({split_g}) < 80 THEN 'train'
                  WHEN ({split_g}) < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM grouped)
    SELECT split, count(*) AS n_docs,
           count(DISTINCT grp) AS n_groups,
           CAST(sum(CASE WHEN linked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_linked_docs
    FROM assigned GROUP BY 1
    """


@register("curation_leakage_safe_split", _leakage_safe_split_oracle())
def curation_leakage_safe_split(spark, sf_dir):
    """Train/val/test split that can NEVER leak a near-duplicate across
    splits: the split hash is taken over the document's NEAR-DUP GROUP
    (connected component of the MinHash-LSH pair graph; singleton docs
    are their own group), so every member of a duplicate cluster lands
    in the same split by construction.  A plain per-doc hash split —
    ``split_hash_train_val_test`` — puts ~10% of each near-dup pair's
    mass straddling train/eval, which is exactly the contamination an
    eval-set audit (``contamination_3gram_overlap``) then has to catch;
    this variant removes the leak at assignment time instead of
    detecting it later.

    Output is the per-split audit summary (doc count, group count,
    docs that belong to multi-doc groups) — all integers, so the
    recursive-CTE oracle replays it exactly.

    Scale shape: pairs come from the LSH path (banded signatures, no
    corpus^2); components converge in O(log diameter) pointer-doubling
    rounds over the pair graph only (singletons never enter the
    iteration — they join back in one broadcast-right pass); the split
    itself is a narrow column map, and the summary is a 3-key agg.
    The contract survives composition: downstream samplers keyed on
    doc_id stay deterministic because group assignment is a pure
    function of content-derived pairs + ids, never rand()."""
    from label_maker_dask_spark.operators.dedup import minhash_neardup_pairs
    from label_maker_dask_spark.operators.pipeline import split_bucket

    docs = _t(spark, sf_dir, "documents")
    comp = duplicate_components(
        minhash_neardup_pairs(docs, k=16, bands=4, threshold=0.12)
    ).select(F.col("doc_id").alias("c_id"), "component")
    grouped = docs.join(
        comp, docs["doc_id"] == F.col("c_id"), "left"
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("grp"),
        F.col("c_id").isNotNull().alias("linked"),
    )
    b = split_bucket(F.col("grp"))
    assigned = grouped.withColumn(
        "split",
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("grp").alias("n_groups"),
        F.sum(F.col("linked").cast("int")).cast("long").alias("n_linked_docs"),
    )


def _kmv_setops_oracle(k: int = 64) -> str:
    from label_maker_dask_spark.functions.text import HASH_P

    fold = char_poly_hash_sql("('kmv:' || user_id::VARCHAR)")
    est = (
        f"CASE WHEN count(*) < {k} THEN count(*)::DOUBLE "
        f"ELSE round({(k - 1) * HASH_P} / max(h), 6) END"
    )
    return f"""
    WITH tagged AS (
      SELECT user_id,
             CASE WHEN (CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
                        % 7) IN (2, 3) THEN 1 ELSE 0 END AS we
      FROM events),
    exact AS (
      SELECT count(DISTINCT CASE WHEN we = 0 THEN user_id END)
               AS n_weekday_exact,
             count(DISTINCT CASE WHEN we = 1 THEN user_id END)
               AS n_weekend_exact,
             count(DISTINCT user_id) AS n_union_exact
      FROM tagged),
    raw AS (SELECT DISTINCT we, {fold} AS r FROM tagged),
    h AS (SELECT DISTINCT we, (r * r % {HASH_P}) * r % {HASH_P} AS h
          FROM raw),
    seg_rk AS (SELECT we, h,
                      row_number() OVER (PARTITION BY we ORDER BY h) AS rn
               FROM h),
    seg_est AS (
      SELECT we, {est} AS e FROM seg_rk WHERE rn <= {k} GROUP BY we),
    u AS (SELECT DISTINCT h FROM h),
    u_rk AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM u),
    u_est AS (SELECT {est} AS e FROM u_rk WHERE rn <= {k}),
    sketches AS (
      SELECT max(CASE WHEN we = 0 THEN e END) AS kmv_weekday,
             max(CASE WHEN we = 1 THEN e END) AS kmv_weekend,
             (SELECT e FROM u_est) AS kmv_union
      FROM seg_est)
    SELECT CAST(n_weekday_exact AS BIGINT) AS n_weekday_exact,
           CAST(n_weekend_exact AS BIGINT) AS n_weekend_exact,
           CAST(n_union_exact AS BIGINT) AS n_union_exact,
           CAST(n_weekday_exact + n_weekend_exact - n_union_exact
                AS BIGINT) AS n_inter_exact,
           kmv_weekday, kmv_weekend, kmv_union,
           round(kmv_weekday + kmv_weekend - kmv_union, 6)
             AS kmv_inter_incl_excl
    FROM exact, sketches
    """


@register("agg_kmv_setops_weekday_weekend", _kmv_setops_oracle())
def agg_kmv_setops_weekday_weekend(spark, sf_dir):
    """KMV sketch SET ALGEBRA: distinct users active on weekdays vs
    weekends, their union straight from the two stored sketches (the
    union's bottom-k is exactly the bottom-k of the merged hash sets —
    lossless KMV merge), and the intersection by inclusion-exclusion
    over the three estimates — the sketch-level set operations a
    maintained-sketch deployment answers WITHOUT rescanning the facts
    (store one sketch per segment, combine at query time).  Exact
    columns ride along, making the estimator error observable.

    Determinism discipline: segment membership is pure integer epoch
    arithmetic (day index mod 7 — engine-native DOW functions disagree
    on week origin, so neither is used), the KMV hash is the repo's
    cube-scattered char fold, and every estimate is the standard
    ``(k-1)P/kth`` formula rounded once — bit-replayable in SQL, unlike
    any native HLL set operation.

    Scale shape: one fact scan collapses to distinct (segment, hash)
    pairs map-side; the per-segment and union bottom-k cuts run over
    sketch-sized survivor sets (the union pass reuses the same distinct
    frame); exact counts are one multi-conditional distinct aggregate.
    At 100 TB the sketches would be read from the maintained daily
    table (``agg_kmv_merged_weekly_users``) instead of rebuilt."""
    from label_maker_dask_spark.functions.text import HASH_P, char_poly_hash
    from label_maker_dask_spark.functions.timeutil import epoch_micros
    from label_maker_dask_spark.operators.pipeline import _kmv_estimate

    k = 64
    ev = _t(spark, sf_dir, "events")
    day_idx = F.floor(epoch_micros("ts") / F.lit(86_400_000_000)).cast(
        "long"
    )
    tagged = ev.select(
        "user_id",
        F.when(F.pmod(day_idx, F.lit(7)).isin(2, 3), 1)
        .otherwise(0)
        .alias("we"),
    )
    exact = tagged.agg(
        F.countDistinct(
            F.when(F.col("we") == 0, F.col("user_id"))
        ).alias("n_weekday_exact"),
        F.countDistinct(
            F.when(F.col("we") == 1, F.col("user_id"))
        ).alias("n_weekend_exact"),
        F.countDistinct("user_id").alias("n_union_exact"),
    ).withColumn(
        "n_inter_exact",
        (
            F.col("n_weekday_exact")
            + F.col("n_weekend_exact")
            - F.col("n_union_exact")
        ).cast("long"),
    )
    raw = char_poly_hash(
        F.concat(F.lit("kmv:"), F.col("user_id").cast("string"))
    )
    h = (raw * raw % HASH_P) * raw % HASH_P
    hashed = tagged.select("we", h.alias("h")).distinct()
    hashed = hashed.transform(materialize, eager=True)  # seg + union cuts
    seg = _kmv_estimate(hashed, ["we"], k)
    seg_wide = seg.agg(
        F.max(F.when(F.col("we") == 0, F.col("approx_distinct"))).alias(
            "kmv_weekday"
        ),
        F.max(F.when(F.col("we") == 1, F.col("approx_distinct"))).alias(
            "kmv_weekend"
        ),
    )
    union_est = _kmv_estimate(
        hashed.select("h").distinct().withColumn("g", F.lit(1)), ["g"], k
    ).select(F.col("approx_distinct").alias("kmv_union"))
    return (
        exact.crossJoin(F.broadcast(seg_wide))
        .crossJoin(F.broadcast(union_est))
        .withColumn(
            "kmv_inter_incl_excl",
            F.round(
                F.col("kmv_weekday")
                + F.col("kmv_weekend")
                - F.col("kmv_union"),
                6,
            ),
        )
    )


def _hotcomponent_split_oracle() -> str:
    split_g = split_bucket_sql("grp")
    return f"""
    WITH m AS (
      SELECT min(doc_id) AS hub, count(*) AS n_hot
      FROM documents WHERE doc_id % 10 < 3),
    grouped AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id % 10 < 3 AND m.n_hot >= 2 THEN m.hub
                  ELSE d.doc_id END AS grp,
             (d.doc_id % 10 < 3 AND m.n_hot >= 2) AS linked
      FROM documents d, m),
    assigned AS (
      SELECT doc_id, grp, linked,
             CASE WHEN ({split_g}) < 80 THEN 'train'
                  WHEN ({split_g}) < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM grouped)
    SELECT split, count(*) AS n_docs,
           count(DISTINCT grp) AS n_groups,
           CAST(sum(CASE WHEN linked THEN 1 ELSE 0 END) AS BIGINT)
             AS n_linked_docs,
           round(sum(CASE WHEN linked THEN 1 ELSE 0 END)::DOUBLE
                 / count(*), 6) AS hot_share
    FROM assigned GROUP BY 1
    """


@register("curation_hotcomponent_adversarial", _hotcomponent_split_oracle())
def curation_hotcomponent_adversarial(spark, sf_dir):
    """The leakage-safe split under a CONSTRUCTED giant dup-component:
    ~30 % of all documents (``doc_id % 10 < 3``) are wired into ONE
    near-dup component via a hub star graph before the split — the
    boilerplate-template regime (one license header / scraped banner
    shared by a third of a crawl) that the natural MinHash pair graph
    at test scale never produces.  The oracle computes the component in
    closed form (every hot doc's label = the minimum hot doc id, which
    is exactly what min-label propagation must converge to on a star),
    so the hash-match proves the DISTRIBUTED components path —
    ``small_graph_edges=0`` forces the iterative pointer-doubling loop,
    never the single-task union-find — returns the right labels when
    one label covers 30 % of the corpus, and that the component-hash
    split keeps the giant group ATOMIC: ``hot_share`` lands entirely in
    one split (train, val, or test — wherever ``hash(hub)`` falls) and
    is exactly 0 in the other two, the balance-visibility column.

    Scale shape: the hub's degree is 0.3 N, but the propagation step's
    ``groupBy(id).min(label)`` collapses map-side (partial aggregation)
    before the shuffle, so the hot node never concentrates 0.3 N rows
    on one reducer; the split itself is a narrow column map over
    ``coalesce(component, doc_id)`` and the output is a 3-row audit
    agg.  Companion to ``curation_leakage_safe_split`` (natural pair
    graph) the way ``join_skew_salted_hotkey_adversarial`` twins
    ``join_skew_salted_brand_revenue``."""
    from label_maker_dask_spark.operators.pipeline import split_bucket

    docs = _t(spark, sf_dir, "documents")
    hot = docs.where(F.col("doc_id") % 10 < 3).select("doc_id")
    hub = hot.agg(F.min("doc_id").alias("hub"))
    pairs = (
        hot.crossJoin(F.broadcast(hub))
        .where(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("id_a"), F.col("doc_id").alias("id_b"))
    )
    comp = duplicate_components(pairs, small_graph_edges=0).select(
        F.col("doc_id").alias("c_id"), "component"
    )
    grouped = docs.join(
        comp, docs["doc_id"] == F.col("c_id"), "left"
    ).select(
        "doc_id",
        F.coalesce("component", "doc_id").alias("grp"),
        F.col("c_id").isNotNull().alias("linked"),
    )
    b = split_bucket(F.col("grp"))
    assigned = grouped.withColumn(
        "split",
        F.when(b < 80, F.lit("train"))
        .when(b < 90, F.lit("val"))
        .otherwise(F.lit("test")),
    )
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("grp").alias("n_groups"),
        F.sum(F.col("linked").cast("int")).cast("long").alias("n_linked_docs"),
        F.round(
            F.sum(F.col("linked").cast("int")) / F.count(F.lit(1)), 6
        ).alias("hot_share"),
    )


def _mixture_resample_oracle(resolution: int = 1_000_000) -> str:
    from label_maker_dask_spark.operators.pipeline import (
        mixture_resample_keep_sql,
    )

    prefix = mixture_resample_keep_sql(
        "lang", "CASE WHEN lang = 'en' THEN 2 ELSE 1 END",
        resolution=resolution,
    )
    return f"""
    {prefix},
    summary AS (
      SELECT c.g AS lang, c.c AS n_docs_in, c.w AS target_weight,
             count(k.doc_id) AS n_kept
      FROM mix_c c LEFT JOIN mix_kept k ON k.lang = c.g
      GROUP BY 1, 2, 3)
    SELECT lang, n_docs_in, target_weight, CAST(n_kept AS BIGINT) AS n_kept,
           round(n_kept * 1.0 / sum(n_kept) OVER (), 6) AS achieved_share
    FROM summary
    """


@register("curation_mixture_resample", _mixture_resample_oracle())
def curation_mixture_resample(spark, sf_dir):
    """Target-mixture RESAMPLING over the language column — the
    data-mixing stage of a pre-training pipeline (rebalance the crawl
    toward a target language mix before training) as a deterministic
    pure function of the data: target weights en:2, every other
    language 1; the binding group keeps all rows and every
    over-represented group hash-down-samples to the exact integer
    thresholds the oracle replays (``operators/pipeline.
    mixture_resample``).  Output is the per-language audit: input
    count, target weight, kept count, achieved share — the achieved
    shares land on the w_g/Σw targets up to hash granularity, which is
    the property a mixture audit checks.

    Scale shape: one partial-agg count per language, two 1-row
    aggregates, a broadcast of n_langs thresholds, and a narrow filter
    — the corpus itself never shuffles."""
    from label_maker_dask_spark.operators.pipeline import (
        mixture_resample,
        mixture_thresholds,
    )

    docs = _t(spark, sf_dir, "documents")
    w = F.when(F.col("lang") == "en", F.lit(2)).otherwise(F.lit(1))
    # one corpus count: the materialized threshold table feeds BOTH the
    # resample filter and the audit's per-group input counts
    thr = mixture_thresholds(docs, "lang", w)
    kept = mixture_resample(docs, "lang", w, thresholds=thr).groupBy(
        "lang"
    ).agg(F.count(F.lit(1)).alias("n_kept"))
    base = thr.select(
        "lang",
        F.col("_c").alias("n_docs_in"),
        F.col("_w").alias("target_weight"),
    )
    joined = base.join(kept, "lang", "left").select(
        "lang",
        "n_docs_in",
        "target_weight",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
    )
    from pyspark.sql import Window

    return joined.withColumn(
        "achieved_share",
        F.round(F.col("n_kept") / F.sum("n_kept").over(Window.partitionBy()), 6),
    )


# deterministic synthetic HTML wrapper (the corpus is plain text, so the
# extraction plumbing is what's under test, same convention as the PII
# entry): nav/footer boilerplate plus a doc_id-keyed anchor span
_HTML_WRAP_SQL = (
    "('<html><nav><a href=\"/\">home</a> | <a href=\"/about\">about</a>'"
    " || '</nav><p>' || text || '</p>'"
    " || CASE WHEN doc_id % 3 = 0"
    "         THEN '<p><a href=\"/ad\">click here to win doc '"
    "              || doc_id::VARCHAR || '</a></p>'"
    "         ELSE '' END"
    " || '<footer>&copy; example</footer></html>')"
)
_TAG_RE = "<[^>]*>"
_ANCHOR_RE = "<a[^>]*>[^<]*</a>"


def _html_strip_oracle() -> str:
    return f"""
    WITH h AS (SELECT doc_id, {_HTML_WRAP_SQL} AS html FROM documents),
    x AS (
      SELECT doc_id,
             length(trim(regexp_replace(html, '{_TAG_RE}', ' ', 'g')))
               AS n_text_chars,
             length(list_aggregate(
               list_transform(
                 regexp_extract_all(html, '{_ANCHOR_RE}'),
                 a -> regexp_replace(a, '{_TAG_RE}', '', 'g')),
               'string_agg', '')) AS n_anchor_chars
      FROM h)
    SELECT doc_id, n_text_chars, n_anchor_chars,
           round(n_anchor_chars * 1.0 / n_text_chars, 6) AS link_density,
           (n_anchor_chars * 1.0 / n_text_chars > 0.2) AS boilerplate_heavy
    FROM x
    """


@register("text_html_boilerplate_strip", _html_strip_oracle())
def text_html_boilerplate_strip(spark, sf_dir):
    """HTML -> text EXTRACTION metrics, the stage every crawl pipeline
    runs before any text analysis (C4/CCNet lineage: strip markup,
    score link density, flag boilerplate-heavy pages).  The corpus is
    plain text, so a deterministic HTML wrapper (nav/footer + a
    doc_id-keyed ad anchor) is synthesized identically in both engines
    first — the regexp tag-strip and anchor-text accounting are what's
    under test.  Regexes are dialect-portable (no lookaround/backrefs:
    Java and RE2 agree on ``{_TAG_RE}`` and non-backtracking anchor
    bodies).  Pure JVM column algebra: regexp_replace / regexp_extract
    -all / aggregate — no UDF, fully pushdown-friendly, embarrassingly
    parallel at 100 TB."""
    docs = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<html><nav><a href="/">home</a> | <a href="/about">about</a>'),
        F.lit("</nav><p>"),
        F.col("text"),
        F.lit("</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<p><a href="/ad">click here to win doc '),
                F.col("doc_id").cast("string"),
                F.lit("</a></p>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("<footer>&copy; example</footer></html>"),
    )
    anchors = F.regexp_extract_all(html, F.lit(_ANCHOR_RE), F.lit(0))
    anchor_text = F.aggregate(
        F.transform(
            anchors,
            lambda a: F.regexp_replace(a, F.lit(_TAG_RE), F.lit("")),
        ),
        F.lit(""),
        lambda acc, a: F.concat(acc, a),
    )
    n_text = F.length(F.trim(F.regexp_replace(html, F.lit(_TAG_RE), F.lit(" "))))
    n_anchor = F.length(anchor_text)
    return docs.select(
        "doc_id",
        n_text.alias("n_text_chars"),
        n_anchor.alias("n_anchor_chars"),
        F.round(n_anchor / n_text, 6).alias("link_density"),
        (n_anchor / n_text > 0.2).alias("boilerplate_heavy"),
    )


def _repeat_upsample_oracle(
    resolution: int = 1_000_000, max_epochs: int = 4
) -> str:
    return f"""
    WITH c AS (
      SELECT lang AS g, count(*) AS c,
             CASE WHEN lang = 'en' THEN 6 ELSE 1 END AS w
      FROM documents GROUP BY 1),
    d AS (SELECT g, c, w, (c * {resolution}) // w AS dens FROM c),
    a AS (SELECT max(dens) AS adens FROM d),
    r AS (
      SELECT g, c, w,
             least({max_epochs},
                   greatest(1, (2 * adens + dens) // (2 * dens))) AS epochs
      FROM d, a),
    expanded AS (
      SELECT doc.lang AS g, unnest(generate_series(1, r.epochs)) AS epoch
      FROM documents doc JOIN r ON r.g = doc.lang),
    outc AS (SELECT g, count(*) AS n_rows_out FROM expanded GROUP BY g)
    SELECT r.g AS lang, r.c AS n_docs_in, r.w AS target_weight,
           CAST(r.epochs AS BIGINT) AS epochs,
           CAST(o.n_rows_out AS BIGINT) AS n_rows_out,
           round(o.n_rows_out * 1.0 / sum(o.n_rows_out) OVER (), 6)
             AS achieved_share
    FROM r JOIN outc o ON o.g = r.g
    """


@register("curation_repeat_upsample", _repeat_upsample_oracle())
def curation_repeat_upsample(spark, sf_dir):
    """Target-mixture UP-sampling by integer repetition — the
    data-constrained mixing strategy (repeat under-represented
    high-weight sources for multiple epochs instead of discarding the
    over-represented ones; the complement of
    ``curation_mixture_resample``).  Per group: weighted density
    ``d_g = c_g·R/w_g``; the densest group anchors at 1 epoch and every
    other group repeats ``round(d_anchor/d_g)`` times, clamped to
    ``[1, max_epochs]`` — all integer arithmetic, so the oracle replays
    the epoch table exactly.  The output counts come from ACTUALLY
    exploding each doc ``epochs`` times (``explode(sequence(...))``
    against a broadcast epoch table), not from multiplying — the gate
    covers the expansion path a downstream shuffler would consume.
    The en weight is 6 (not the resample twin's 2) DELIBERATELY: on
    this corpus's language mix a weight of 2 computes epochs=1 for
    every group at the gated scales, leaving the repetition machinery
    tested only as an identity — at 6, en repeats 2-3x at every scale
    (sf0.001 through sf1), so wrong sequence bounds or clamp inversion
    hash-mismatch.

    Scale shape: one partial-agg count per group, a 1-row max, an
    n_groups broadcast, and a narrow explode whose fan-out is the epoch
    count (bounded by ``max_epochs``) — no corpus shuffle."""
    docs = _t(spark, sf_dir, "documents")
    resolution, max_epochs = 1_000_000, 4
    w = F.when(F.col("lang") == "en", F.lit(6)).otherwise(F.lit(1))
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("c"), F.max(w).alias("w")
    )
    # the lang-cardinality density table feeds the anchor max, the
    # epoch broadcast AND the final report — checkpoint it so the
    # corpus group-count runs once, not three times (r18)
    d = c.withColumn(
        "dens", F.expr(f"c * {resolution} div w")
    ).localCheckpoint(eager=False)
    a = d.agg(F.max("dens").alias("adens"))
    r = d.crossJoin(F.broadcast(a)).withColumn(
        "epochs",
        F.least(
            F.lit(max_epochs),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr("(2 * adens + dens) div (2 * dens)"),
            ),
        ),
    )
    expanded = (
        docs.join(F.broadcast(r.select("lang", "epochs")), "lang")
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(1), F.col("epochs")))
        )
    )
    outc = expanded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows_out")
    )
    from pyspark.sql import Window

    return (
        r.select("lang", F.col("c").alias("n_docs_in"),
                 F.col("w").alias("target_weight"),
                 F.col("epochs").cast("long").alias("epochs"))
        .join(outc, "lang")
        .select(
            "lang", "n_docs_in", "target_weight", "epochs",
            F.col("n_rows_out").cast("long").alias("n_rows_out"),
            F.round(
                F.col("n_rows_out")
                / F.sum("n_rows_out").over(Window.partitionBy()),
                6,
            ).alias("achieved_share"),
        )
    )


# thresholds deliberately sit INSIDE the corpus distributions (n_chars
# p10-p90 = 114-484, tokens 21-88, mean word length 5.1-5.8) so every
# stage has real attrition — a rule that never fires is not under test
_FUNNEL_STAGES_SQL = {
    "s1_min_length": "n_chars >= 150",
    "s2_min_tokens": f"len({_TOKS_SQL}) >= 40",
    "s3_mean_word_len": (
        f"(n_chars * 1.0 / len({_TOKS_SQL})) BETWEEN 5.2 AND 5.75"
    ),
}


def _quality_funnel_oracle() -> str:
    conds = list(_FUNNEL_STAGES_SQL.items())
    cum, rows = [], []
    for i, (name, cond) in enumerate(conds):
        cum.append(f"({cond})")
        expr = " AND ".join(cum)
        rows.append(
            f"SELECT {i + 1} AS stage_no, '{name}' AS stage, "
            f"count(*) AS n_candidates, "
            f"CAST(sum(CASE WHEN {expr} THEN 1 ELSE 0 END) AS BIGINT) "
            f"AS n_pass FROM documents"
        )
    union = " UNION ALL ".join(rows)
    return f"""
    WITH f AS ({union})
    SELECT stage_no, stage, n_candidates, n_pass,
           round(n_pass * 1.0 / n_candidates, 6) AS pass_rate
    FROM f
    """


@register("curation_quality_funnel", _quality_funnel_oracle())
def curation_quality_funnel(spark, sf_dir):
    """Quality-filter FUNNEL audit — the attrition table every curation
    pipeline publishes (how many documents survive each rule,
    cumulatively): minimum length, minimum token count, mean-word-length
    band.  ONE corpus scan computes every stage via conditional sums
    (``sum(when(cond1 & ... & condK, 1))``), never K filtered re-scans —
    the shape that matters at 100 TB, where each extra pass is a full
    read of the corpus.  The oracle states each stage as its own
    aggregate over the same predicates; equality proves the fused
    single-pass form computes the per-stage semantics exactly."""
    from label_maker_dask_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    stages = [
        ("s1_min_length", F.col("n_chars") >= 150),
        ("s2_min_tokens", n_tok >= 40),
        (
            "s3_mean_word_len",
            (F.col("n_chars") / n_tok).between(5.2, 5.75),
        ),
    ]
    aggs = [F.count(F.lit(1)).alias("n_candidates")]
    cum = None
    for name, cond in stages:
        cum = cond if cum is None else (cum & cond)
        aggs.append(
            F.sum(F.when(cum, 1).otherwise(0)).cast("long").alias(name)
        )
    wide = docs.agg(*aggs)
    tall = wide.selectExpr(
        "n_candidates",
        "stack(3, "
        + ", ".join(
            f"{i + 1}, '{name}', {name}" for i, (name, _) in enumerate(stages)
        )
        + ") AS (stage_no, stage, n_pass)",
    )
    return tall.select(
        "stage_no",
        "stage",
        "n_candidates",
        "n_pass",
        F.round(F.col("n_pass") / F.col("n_candidates"), 6).alias(
            "pass_rate"
        ),
    )


def _token_budget_oracle() -> str:
    return f"""
    WITH t0 AS (SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents),
    t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             round({_quality_sql()}, 6) AS quality
      FROM t0 WHERE len(toks) > 0),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total FROM t),
    c AS (
      SELECT doc_id, quality, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM t)
    SELECT doc_id, quality, n_tokens, cum_tokens
    FROM c CROSS JOIN tot
    WHERE cum_tokens <= (total - (total % 2)) / 2
    """


@register("curation_token_budget_select", _token_budget_oracle())
def curation_token_budget_select(spark, sf_dir):
    """Budget-constrained selection — "keep the best documents until the
    token budget is spent" (here: half the corpus's tokens), the
    selection rule behind quality-pruned pretraining mixes.  Documents
    are ordered (quality desc, doc_id asc) and kept while the running
    token total stays within budget: a PREFIX of the quality order, so
    the output is deterministic and the budget is never exceeded.

    Scale shape: the running total rides
    ``operators/rank.with_global_cumsum`` — a range-repartitioned
    distributed prefix-sum (per-partition local cumsum + broadcast
    partition totals), NOT an unpartitioned window (which would plan as
    a single task holding the fully sorted corpus; the round-9 probe
    measured a 13x blowup on exactly that shape).  The oracle replays
    the same semantics with DuckDB's plain window — the hash match
    proves the distributed prefix-sum is partition-independent.  Token
    counts are integers, so the cumsum is exact in both engines."""
    from label_maker_dask_spark.functions.text import quality_score, tokens
    from label_maker_dask_spark.operators.rank import with_global_cumsum

    docs = _t(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_tokens"),
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    ).where(F.col("n_tokens") > 0)
    c = with_global_cumsum(
        t,
        [F.desc("quality"), F.asc("doc_id")],
        "n_tokens",
        cumsum_col="cum_tokens",
        total_col="_total",
    )
    budget = (F.col("_total") - F.col("_total") % 2) / 2
    return c.where(F.col("cum_tokens") <= budget).select(
        "doc_id", "quality", "n_tokens", "cum_tokens"
    )
