"""Text-analysis expression library (LLM-data-pipeline surface, SURVEY.md
Part B) — all built-in Catalyst expressions, no Python in the row path.

Cross-engine verifiability: several ops need a *hash* that the DuckDB oracle
can reproduce bit-for-bit.  Standard digests (md5/sha2) match across engines;
for arithmetic hashing (minhash/simhash) we use a polynomial character fold
``h = (h*31 + codepoint) mod P`` expressed with ``aggregate`` in Spark
(:func:`char_poly_hash`), with vectorized numpy in the Arrow passes of
``operators/dedup.py``, and with ``list_reduce`` in DuckDB (the ``*_sql``
twins here) — identical integer arithmetic, fully parallel, no global sort.  At production scale the same operators run unchanged with
``xxhash64`` substituted for the fold (cheaper, JVM-intrinsic); the fold is
the cross-checkable flavor.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_P = 1_000_000_007  # fits the fold in int64: 31*P + 0x10FFFF << 2^63
HASH_MULT = 31

# a tiny deterministic stopword list (engine-defined; the reference has no
# text surface — this is Part-B commitment, not reference behavior)
STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


#: whitespace spelled EXPLICITLY (never \s): Java's \s includes \x0B
#: while RE2's does not, so a bare \s+ silently diverges between Spark
#: and the DuckDB oracles on vertical-tab input.  One class, both
#: engines, every text operator (the same rule _BPE_RE documents).
WS_CLASS = "[ \\t\\n\\x0B\\f\\r]+"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty string -> empty array."""
    t = F.split(F.trim(text), WS_CLASS)
    return F.filter(t, lambda x: x != "")


def char_poly_hash(s: Column) -> Column:
    """Polynomial fold over characters, mod ``HASH_P`` — the cross-engine
    arithmetic hash (DuckDB twin: ``list_reduce`` over codepoints)."""
    chars = F.filter(F.split(s, ""), lambda c: c != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * HASH_MULT + F.ascii(c)) % HASH_P,
    )


def char_poly_hash_sql(expr: str) -> str:
    """The DuckDB rendering of :func:`char_poly_hash` over SQL ``expr``."""
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(list_filter(string_split({expr}, ''), c -> c != ''), "
        f"c -> ascii(c)::BIGINT)), "
        f"(a, b) -> (a * {HASH_MULT} + b) % {HASH_P})"
    )




def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as space-joined strings; fewer than n tokens ->
    empty array.

    Built as ``n-1`` ``zip_with`` merges of shifted whole-array slices
    rather than a per-index ``slice`` inside ``transform`` — higher-order
    functions are interpreted, and the per-index form re-slices the array
    for every position (O(len·n) allocations per row, ~10x slower at the
    bench scale)."""
    m = F.size(toks) - (n - 1)

    def build() -> Column:
        acc = F.slice(toks, 1, m)
        for off in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(toks, 1 + off, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return acc

    return F.when(F.size(toks) >= n, build()).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles_sql(tokens_expr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`word_shingles` (1-based list indexing both)."""
    joined = " || ' ' || ".join(f"__t[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({tokens_expr}) >= {n} THEN "
        f"(SELECT list_transform(generate_series(1, len(__t) - {n - 1}), "
        f"i -> {joined}) FROM (SELECT {tokens_expr} AS __t)) "
        f"ELSE [] END"
    )


SHINGLE_B = 1_000_003  # combination base for token-hash -> shingle-hash


def shingle_hashes_sql(toks_expr: str, n: int = 3) -> str:
    """The DuckDB rendering of the shingle hashes
    :func:`operators.dedup.doc_shingles` computes per document (before
    its per-doc distinct): ``((h_i*B + h_{i+1}) % P * B + h_{i+2}) % P``
    over the token char folds; fewer than n tokens -> empty list."""
    fold = char_poly_hash_sql("t")
    comb = "__h[i]"
    for j in range(1, n):
        comb = f"(({comb}) * {SHINGLE_B} + __h[i + {j}]) % {HASH_P}"
    return (
        f"CASE WHEN len({toks_expr}) >= {n} THEN "
        f"(SELECT list_transform(generate_series(1, len(__h) - {n - 1}), "
        f"i -> {comb}) FROM "
        f"(SELECT list_transform({toks_expr}, t -> {fold}) AS __h)) "
        f"ELSE [] END"
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are punctuation (quality signal)."""
    n = F.length(text)
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]{}-]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def stopword_ratio(toks: Column) -> Column:
    """Fraction of tokens that are stopwords (quality signal)."""
    hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane stopword rate.  Engine-defined formula, deterministic."""
    toks = tokens(text)
    n_tok = F.size(toks)
    length_ok = F.when((n_tok >= 5) & (n_tok <= 5000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.2, 1.0).otherwise(0.0)
    stop = stopword_ratio(toks)
    stop_ok = F.when((stop > 0.01) & (stop < 0.7), 1.0).otherwise(0.0)
    return (length_ok + punct_ok + stop_ok) / 3.0


# language-ID marker words: deterministic n-gram/keyword heuristic.  The
# driver's synthetic corpus is language-agnostic word salad, so this is a
# *mechanism* test (deterministic scoring), not a linguistic benchmark.
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "die", "und"],
    "fr": ["le", "la", "et"],
    "es": ["el", "los", "que"],
}
