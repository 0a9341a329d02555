"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash (SURVEY.md Part B — engine extensions, no reference analogue).

Scale design notes (100 TB posture):

- **exact**: group by a content digest, not the text itself — the shuffle key
  is 32 bytes regardless of document size, and the map-side partial agg
  collapses most duplicates before the exchange.
- **minhash/LSH**: signatures are computed per-row (narrow); the only
  shuffles are the band-bucket self-join (keys are small band signatures)
  and the final verification join.  Candidate generation never compares all
  pairs — complexity follows bucket occupancy, the standard LSH contract.
- **n-gram Jaccard (exact)**: the shingle self-join explodes with corpus
  size; it is the *oracle/verification* path and the small-corpus tool, not
  the 100 TB path — that's what MinHash is for.  Documented accordingly.
- Hashing uses the cross-engine polynomial fold so every step is
  DuckDB-verifiable: shingling and SimHash fold tokens with vectorized
  numpy inside one Arrow pass, and ``functions/text.py`` holds the SQL
  renderings the oracles replay.  Swap ``xxhash64`` in for production
  cheapness (same topology, not cross-checkable).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.materialize import materialize

from label_maker_dask_spark.functions.text import (
    HASH_MULT,
    HASH_P,
    SHINGLE_B,
)

# fixed (a, b) coefficient pairs for the k minhash "permutations"
# h_j(x) = (a_j * x + b_j) mod P  — deterministic, embedded in the oracle SQL
MINHASH_COEFFS: list[tuple[int, int]] = [
    (2 * j + 3, 104729 * (j + 1) % HASH_P) for j in range(16)
]


def exact_duplicate_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups keyed by sha256(text): canonical (min) id and
    group size.  One hash-agg shuffle on the digest."""
    return (
        docs.select(
            F.sha2(F.col(text_col), 256).alias("content_sha"),
            F.col(id_col),
        )
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


def doc_shingles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Distinct (doc_id, shingle_hash) pairs — the set representation used by
    both Jaccard verification and MinHash.

    Entirely narrow (no shuffle, no join): one Arrow-batched
    ``mapInPandas`` pass, one row in, its distinct shingle hashes out.
    The polynomial char fold runs as vectorized int64 numpy (Horner over
    a zero-padded byte matrix, ~max_token_len iterations per batch); all
    arithmetic stays below 2^63 (h < P ~1e9, h*B + h' < 1e15 + 1e9), so
    the hashes equal the DuckDB oracle's ``shingle_hashes_sql`` bit for
    bit (tested, and gated by the catalog oracles)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            got = _batch_shingle_arrays(pdf, text_col, id_col, n)
            if got is None:
                continue
            doc_ids, d, sh = got
            yield pd.DataFrame({"doc_id": doc_ids[d], "sh": sh})

    id_type = docs.schema[id_col].dataType.simpleString()
    from label_maker_dask_spark.operators.guards import parallelism_floor

    return parallelism_floor(docs.select(id_col, text_col)).mapInPandas(
        gen, f"doc_id {id_type}, sh long"
    )


import re

# ASCII \s is exactly functions/text.WS_CLASS ([ \t\n\x0B\f\r]), the
# whitespace class the DuckDB oracles split on
_WS_RE = re.compile(r"\s+", re.ASCII)


def _token_fold(toks: list):
    """Vectorized polynomial char fold over a flat token list (Horner over a
    zero-padded byte matrix; bit-identical to functions/text.char_poly_hash)."""
    import numpy as np

    P, M = HASH_P, HASH_MULT
    try:
        arr = np.array(toks, dtype="S")  # ASCII fast path
    except UnicodeEncodeError:
        h = np.empty(len(toks), dtype=np.int64)
        for i, t in enumerate(toks):
            acc = 0
            for ch in t:
                acc = (acc * M + ord(ch)) % P
            h[i] = acc
        return h
    mat = arr.view(np.uint8).reshape(len(toks), -1)
    h = np.zeros(len(toks), dtype=np.int64)
    for j in range(mat.shape[1]):
        c = mat[:, j].astype(np.int64)
        live = c > 0  # 0 = right-padding
        h[live] = (h[live] * M + c[live]) % P
    return h


def _batch_token_arrays(pdf, text_col: str, id_col: str):
    """Per-batch tokenize + hash, shared by the shingle and SimHash
    passes: returns ``(doc_ids, n_docs, token_hash, tok_doc)`` where
    ``token_hash`` is the char-poly hash of every token in batch order and
    ``tok_doc`` maps each token to its doc index.  Kept in ONE place so a
    future tokenization-parity fix cannot silently diverge between them."""
    import numpy as np

    doc_ids = pdf[id_col].to_numpy()
    # ASCII-\s split, NOT str.split(): Python's split treats all Unicode
    # whitespace (e.g. NBSP) as separators while the oracles' WS_CLASS
    # split does not — the token (and therefore shingle) sets must match
    toks_per_doc = [
        [t for t in _WS_RE.split(s) if t] for s in pdf[text_col].fillna("")
    ]
    lens = np.fromiter(
        (len(t) for t in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
    )
    flat = [tok for toks in toks_per_doc for tok in toks]
    th = _token_fold(flat) if flat else np.empty(0, dtype=np.int64)
    tok_doc = np.repeat(np.arange(len(lens)), lens)
    return doc_ids, len(lens), th, tok_doc


def _batch_shingle_arrays(pdf, text_col: str, id_col: str, n: int):
    """Per-batch distinct (doc, shingle-hash) pairs, sorted by (doc, hash):
    returns ``(doc_ids, doc_idx, shingle_hash)`` numpy arrays or None if the
    batch yields no shingles.  Shared by the exploded and profile forms."""
    import numpy as np

    P, B = HASH_P, SHINGLE_B
    if len(pdf) == 0:
        return None
    doc_ids, _, th, tok_doc = _batch_token_arrays(pdf, text_col, id_col)
    if len(th) < n:
        return None
    # a shingle starting at token i is valid iff tokens i..i+n-1 belong
    # to the same document
    sh = th[: -(n - 1)].copy()
    for j in range(1, n):
        end = len(th) - (n - 1) + j
        sh = (sh * B + th[j:end]) % P
    valid = tok_doc[: -(n - 1)] == tok_doc[n - 1 :]
    sh = sh[valid]
    d = tok_doc[: -(n - 1)][valid]
    if len(sh) == 0:
        return None
    # per-doc distinct, fully vectorized: sort by (doc, shingle),
    # keep first of each run
    order = np.lexsort((sh, d))
    d, sh = d[order], sh[order]
    keep = np.empty(len(d), dtype=bool)
    keep[0] = True
    keep[1:] = (d[1:] != d[:-1]) | (sh[1:] != sh[:-1])
    return doc_ids, d[keep], sh[keep]


def minhash_doc_profiles(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    floor: bool = True,
) -> DataFrame:
    """One narrow Arrow pass producing, per document, BOTH its distinct
    shingle-hash set (``shs`` array) and its k-wide MinHash signature
    (``mh0..mh{k-1}`` columns) — same values as
    ``minhash_signatures(doc_shingles(docs))`` but with **zero shuffles**:
    the per-doc min over ``(a_j*sh + b_j) mod P`` is a ``minimum.reduceat``
    over the already-grouped shingle runs.

    This is the 100 TB shape for the near-dup pipeline: the only exchanges
    left downstream are the small LSH band join and the candidate
    verification join; nothing exploded ever shuffles.  Documents with
    fewer than ``n`` tokens have no shingles and produce no row (same
    contract as ``doc_shingles``)."""
    import numpy as np
    import pandas as pd

    coeffs = MINHASH_COEFFS[:k]

    def gen(batches):
        for pdf in batches:
            got = _batch_shingle_arrays(pdf, text_col, id_col, n)
            if got is None:
                continue
            doc_ids, d, sh = got
            starts = np.flatnonzero(np.r_[True, d[1:] != d[:-1]])
            cols = {
                "doc_id": doc_ids[d[starts]],
                "shs": np.split(sh, starts[1:]),
            }
            for j, (a, b) in enumerate(coeffs):
                cols[f"mh{j}"] = np.minimum.reduceat((sh * a + b) % HASH_P, starts)
            yield pd.DataFrame(cols)

    id_type = docs.schema[id_col].dataType.simpleString()
    sig_cols = ", ".join(f"mh{j} long" for j in range(k))
    narrow = docs.select(id_col, text_col)
    # ``floor=False`` is for PER-MICRO-BATCH callers (streaming/neardup):
    # there the pass runs once per batch inside a multi-action pipeline,
    # and the floor's extra exchange + 32-way partitioning of a tiny
    # batch multiplies every downstream job's task count — measured
    # +5.5 s on stream_neardup_index_replay at sf0.1 for zero gain
    # (a real delta scans as many files and has parallelism already).
    if floor:
        from label_maker_dask_spark.operators.guards import parallelism_floor

        narrow = parallelism_floor(narrow)
    return narrow.mapInPandas(
        gen, f"doc_id {id_type}, shs array<long>, {sig_cols}"
    )


def jaccard_pairs(
    shingled: DataFrame, threshold: float = 0.5, max_rows: int = 2_000_000
) -> DataFrame:
    """Exact pairwise Jaccard over shingle sets: pairs sharing >=1 shingle,
    ``|A ∩ B| / |A ∪ B| >= threshold``.  Exact-but-quadratic in shared-
    shingle pairs — the verification/oracle path (see module docstring);
    :func:`minhash_neardup_pairs` is the scale path.  Refuses shingle
    tables above ``max_rows`` up front (``guards.ensure_small_input``)
    rather than launching an all-pairs join over a large corpus.

    The 2M default is sized for every scale the exact catalog entries are
    replayed at: the correctness gate runs sf0.01 (~500 docs, ~50k
    shingle rows) and the bench sf0.1 (~5k docs, ~500k rows) — both
    comfortably under the cap; the sf1 scaling tier probes the LSH twin
    instead, by design.  Raise ``max_rows`` explicitly only when the
    quadratic cost is the point."""
    from label_maker_dask_spark.operators.guards import ensure_small_input

    # materialize once: the shingle frame (an Arrow pass for the catalog
    # callers) feeds FOUR consumers — the guard's count, the sizes agg,
    # and both self-join sides; left lazy Spark re-runs the pass per
    # consumer.  The guard's count doubles as the materialization action.
    # The sizes joins lose the frame's stats, so they carry the explicit
    # broadcast the materialize module prescribes (sizes is one row per
    # doc, bounded by the same guard that bounds the all-pairs join).
    shingled = ensure_small_input(
        materialize(shingled, eager=False),
        max_rows,
        "jaccard_pairs",
        "minhash_neardup_pairs (LSH candidates + jaccard_pairs_for_candidates)",
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(shingled: DataFrame, k: int = 16) -> DataFrame:
    """Per-doc MinHash signature: ``min((a_j*sh + b_j) mod P)`` per
    permutation j — one narrow agg, k mins computed map-side."""
    coeffs = MINHASH_COEFFS[:k]
    mins = [
        F.min((F.col("sh") * a + b) % HASH_P).alias(f"mh{j}")
        for j, (a, b) in enumerate(coeffs)
    ]
    return shingled.groupBy("doc_id").agg(*mins)


def minhash_band_rows(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """``(doc_id, band, sig)`` rows from a MinHash signature frame's
    ``mh*`` columns — THE banding scheme, in one place: the in-memory
    candidate join (:func:`lsh_candidate_pairs`) and the stored band
    table of the incremental index (``streaming/neardup.py``) both read
    this function, so the batch operator and the maintained index can
    never silently disagree on band layout."""
    k = len([c for c in signatures.columns if c.startswith("mh")])
    rows_per_band = k // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh{bi * rows_per_band + r}")
                        for r in range(rows_per_band)
                    ],
                ).alias("sig"),
            )
            for bi in range(bands)
        ]
    )
    return signatures.select(
        "doc_id", F.explode(band_structs).alias("b")
    ).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")
    )


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 4) -> DataFrame:
    """Banded LSH: split the k-wide signature into ``bands`` bands; docs
    sharing any full band become a candidate pair.  The self-join key is the
    (band index, band signature) pair — small and well-distributed."""
    banded = minhash_band_rows(signatures, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH bands -> candidate
    pairs -> exact-Jaccard verification (the scalable near-dup operator).

    One narrow Arrow pass (``minhash_doc_profiles``) yields both the
    signatures and the per-doc shingle sets; it is locally checkpointed
    (lazily — materialized inside the first action) because three
    consumers read it (band join both sides + verification) — at scale
    this is a materialization point you'd checkpoint anyway.  A lazy
    ``localCheckpoint`` rather than ``persist()``: checkpoint blocks are
    released when the frame is garbage-collected, while a bare persist
    pins blocks in the cache manager for the session's lifetime (the
    round-9 leak class).  The only shuffles in the whole pipeline are
    the band-bucket join and the two candidate verification joins, all
    on compact keys."""
    prof = materialize(
        minhash_doc_profiles(docs, text_col, id_col, n, k), eager=False
    )  # cluster fault-tolerance knob: operators/materialize.py
    candidates = lsh_candidate_pairs(prof.drop("shs"), bands)
    verified = jaccard_verify_sets(prof.select("doc_id", "shs"), candidates)
    return verified.where(F.col("jaccard") >= threshold)


def jaccard_verify_sets(
    sets: DataFrame, candidates: DataFrame
) -> DataFrame:
    """Exact Jaccard for candidate pairs from per-doc shingle-set arrays
    (``doc_id, shs``): two joins on doc id, intersection via
    ``array_intersect`` — no explode, no agg, far fewer exchanges than the
    exploded-row verification (``jaccard_pairs_for_candidates``, kept as
    the oracle-mirroring form).  Arrays hold distinct hashes, so sizes and
    intersection cardinality are set arithmetic."""
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", n_inter)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.size("shs_a") + F.size("shs_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def jaccard_pairs_for_candidates(
    shingled: DataFrame, candidates: DataFrame
) -> DataFrame:
    """Exact Jaccard restricted to candidate pairs (two joins on doc ids —
    this is the verification step after LSH pruning)."""
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .where(F.col("sh_a") == F.col("sh_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


def containment_pairs(
    shingled: DataFrame, threshold: float = 0.5, max_rows: int = 2_000_000
) -> DataFrame:
    """Directional shingle containment: for pairs sharing >= 1 shingle,
    ``cont_in_a = |A∩B| / |A|`` and ``cont_in_b = |A∩B| / |B|``, kept when
    ``max(cont_in_a, cont_in_b) >= threshold``.  Containment is the dedup
    metric Jaccard misses: a short document quoted wholesale inside a long
    one has near-1 containment but low Jaccard (the union is dominated by
    the long side) — the classic excerpt/boilerplate case.

    Same shape, guard, and scale posture as :func:`jaccard_pairs` (the
    exact small-corpus path; at scale, run the LSH candidates first and
    compute containment with :func:`jaccard_verify_sets`-style set math
    on candidates only)."""
    from label_maker_dask_spark.operators.guards import ensure_small_input

    # same materialize-once + explicit-broadcast shape as jaccard_pairs
    # (four consumers of the shingle Arrow pass; see the comment there)
    shingled = ensure_small_input(
        materialize(shingled, eager=False),
        max_rows,
        "containment_pairs",
        "minhash_neardup_pairs candidates + per-candidate set containment",
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingled.alias("a")
    b = shingled.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    ca = F.round(F.col("n_inter") / F.col("n_a"), 6)
    cb = F.round(F.col("n_inter") / F.col("n_b"), 6)
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            "id_a",
            "id_b",
            ca.alias("cont_in_a"),
            cb.alias("cont_in_b"),
            F.greatest(ca, cb).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def containment_verify_sets(
    sets: DataFrame, candidates: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Directional containment for candidate pairs from per-doc
    shingle-set arrays (``doc_id, shs``) — the set-math verification stage
    of :func:`containment_neardup_pairs`; same two-join shape as
    :func:`jaccard_verify_sets`."""
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("shs_b"))
    n_inter = F.size(F.array_intersect("shs_a", "shs_b"))
    ca = F.round(n_inter / F.size("shs_a"), 6)
    cb = F.round(n_inter / F.size("shs_b"), 6)
    return (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            ca.alias("cont_in_a"),
            cb.alias("cont_in_b"),
            F.greatest(ca, cb).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def containment_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """The scalable candidate path for :func:`containment_pairs`: LSH band
    candidates (as :func:`minhash_neardup_pairs`) verified with exact set
    containment instead of Jaccard.  The only shuffles are the band join
    and the two candidate joins — no shared-shingle pair explosion, so
    this is the 100 TB twin of the guarded all-pairs form.

    Recall caveat, stated honestly: MinHash-LSH recalls pairs by
    JACCARD similarity, so an extreme excerpt case (tiny doc inside a
    huge one: containment ~1, Jaccard ~0) can miss candidacy.  For corpora
    where that tail matters, lower the band width (more, narrower bands →
    higher recall at low Jaccard) or partition long documents into
    chunks before shingling so the excerpt's Jaccard against its source
    chunk is high — both stay inside this operator's plan shape."""
    prof = materialize(
        minhash_doc_profiles(docs, text_col, id_col, n, k), eager=False
    )  # lazy: one materialization at the action; knob in operators/materialize.py
    candidates = lsh_candidate_pairs(prof.drop("shs"), bands)
    return containment_verify_sets(
        prof.select("doc_id", "shs"), candidates, threshold
    )


# --- SimHash -----------------------------------------------------------------

#: default signature width: 60 bits = 4 pigeonhole bands of 15 bits
#: (32k bucket values, clear of LONG's sign bit).  Narrow widths like 16
#: are a corpus-scale trap — 4-bit bands hold only 16 values, so bucket
#: occupancy grows ~n/16 and the candidate join approaches quadratic;
#: the 16-bit form survives only as a guarded verification twin
#: (``dedup_simhash16_neardup_pairs``).
SIMHASH_BITS = 60


def _simhash_coeffs(bits: int) -> list:
    """Per-bit hash-plane coefficients (deterministic, index-derived — no
    stored model, any engine can replay them)."""
    return [(6 * j + 5, 15485863 * (j + 1) % HASH_P) for j in range(bits)]


def simhash_signatures_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """Per-doc ``bits``-wide SimHash signatures: per token, pseudo-random
    bit j is ``((h*A_j + B_j) mod P) mod 2``; signature bit j is the sign
    of the (+1/-1) sum over tokens (an empty or NULL text signs to 0).
    Widths up to 62 stay clear of the sign bit.

    One Arrow-batched ``mapInPandas`` pass — tokens char-folded once with
    the vectorized ``_token_fold`` (Horner over a padded byte matrix),
    then every bit sum comes from one ``np.bincount`` per plane over the
    flat token-hash array.  Entirely narrow: one row in, one (doc_id,
    simhash) row out.  The DuckDB oracle (``queries._simhash_oracle``)
    replays the same integer arithmetic per bit."""
    import numpy as np
    import pandas as pd

    P = HASH_P
    coeffs = _simhash_coeffs(bits)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            doc_ids, n_docs, th, tok_doc = _batch_token_arrays(
                pdf, text_col, id_col
            )
            sig = np.zeros(len(doc_ids), dtype=np.int64)
            if len(th):  # th < P ~1e9
                for j, (A, B) in enumerate(coeffs):
                    # th*A + B < 1e9*95 + 1e9 — far inside int64
                    contrib = (((th * A + B) % P) % 2) * 2 - 1
                    # float64 weights are exact here: |sum| <= n_tokens << 2^53
                    s = np.bincount(tok_doc, weights=contrib, minlength=n_docs)
                    sig |= (s > 0).astype(np.int64) << j
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": sig})

    id_type = docs.schema[id_col].dataType.simpleString()
    from label_maker_dask_spark.operators.guards import parallelism_floor

    return parallelism_floor(docs.select(id_col, text_col)).mapInPandas(
        gen, f"doc_id {id_type}, simhash long"
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All document pairs whose SimHash signatures differ in at most
    ``max_hamming`` bits — with EXACT recall, not probabilistic: the
    signature splits into ``bands`` equal bands, and by pigeonhole
    any pair within ``bands - 1`` bit flips must agree on at least one
    whole band, so the band-bucket join surfaces every qualifying pair
    (require ``max_hamming <= bands - 1``; the default 4x15-bit banding
    covers hamming <= 3).  Verification is one ``bit_count(sig XOR sig)``
    per candidate.

    This is the SimHash complement to MinHash-LSH: near-identical
    token multisets (small edits, reorderings) land within a few flipped
    bits; candidate volume is bounded by band-bucket occupancy, never
    all-pairs.  Scale shape: the signature pass is the narrow Arrow stage
    of :func:`simhash_signatures_df`; then one self-join on (band,
    band-value) + a distinct — compact integer keys throughout.

    Width matters at scale — hence the 60-bit default (15-bit bands, 32k
    bucket values, clear of the sign bit).  A narrow signature like
    ``bits=16`` has 4-bit bands holding only 16 values, so band buckets
    grow linearly with the corpus and the candidate join approaches
    quadratic (sf0.01 already yields ~25k candidate pairs from 500
    docs); it survives only as a verification twin behind
    ``ensure_small_input`` (``dedup_simhash16_neardup_pairs``).  The
    plan shape and the exactness guarantee are width-independent, and
    both widths are oracle-replayed."""
    sigs = simhash_signatures_df(docs, text_col, id_col, bits)
    return banded_hamming_pairs(
        sigs, "doc_id", "simhash", bits, bands, max_hamming
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    bands: int,
    max_hamming: int,
) -> DataFrame:
    """All pairs of a ``(id, signature)`` frame within ``max_hamming``
    bits, by band-bucket join — EXACT recall whenever
    ``max_hamming <= bands - 1`` (pigeonhole: a pair with fewer flipped
    bits than bands must agree on a whole band).  Shared by SimHash text
    dedup and perceptual-hash image dedup: any fixed-width bit signature
    gets the same guarantee and the same compact-integer-key plan."""
    if max_hamming > bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} "
            f"bands for exact recall (got bands={bands}); raise bands or "
            "lower the threshold"
        )
    if bits % bands:
        raise ValueError(f"bands={bands} must divide bits={bits}")
    if bits > 63:
        raise ValueError("bits > 63 would reach the sign bit of LONG")
    # materialize the signature frame once: both sides of the band-bucket
    # self-join reference it, and for the SimHash callers ``sigs`` is an
    # Arrow signature pass that would otherwise run twice per query
    # (guide §1.2 "don't compute things you throw away"; same
    # multi-consumer rationale as minhash_neardup_pairs).  The band join
    # keys are compact integers on two same-sized sides, so losing the
    # checkpointed frame's stats (no auto-broadcast) costs nothing —
    # the join output volume, not the input exchange, dominates.
    sigs = materialize(sigs, eager=False)
    width = bits // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col).alias("_id"),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(sig_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "_sig", F.col("bb.band").alias("band"),
             F.col("bb.bval").alias("bval"))
    a = banded.select(
        F.col("_id").alias("id_a"), F.col("_sig").alias("sa"),
        "band", "bval",
    )
    b = banded.select(
        F.col("_id").alias("id_b"), F.col("_sig").alias("sb"),
        "band", "bval",
    )
    # verify BEFORE the dedup shuffle: hamming is a function of (sa, sb),
    # so filtering candidates first and then dropping band-collision
    # duplicates yields the identical pair set while the distinct's
    # exchange carries only true pairs (narrow-signature bands produce
    # candidate volumes orders of magnitude above the result)
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _components_single_pass(edges: DataFrame) -> DataFrame:
    """Union-find over the whole (deduped, both-directions) edge list in
    ONE Arrow task — the small-graph fast path of
    :func:`duplicate_components`.  Path-halving find + union; after all
    edges, every node reports the MIN id of its component (the same
    canonical label the iterative path converges to), so the two paths
    are output-identical by construction.

    The edge frame arrives coalesced to one partition; ``mapInPandas``
    streams its Arrow batches through one generator, so the only
    whole-graph state is the parent dict — O(nodes), which the caller's
    edge-count threshold bounds.

    Type-generic like the iterative path: the output schema mirrors the
    input id type, and ids are compared as their native Python values
    (ints numerically, strings lexicographically — the same orderings
    ``F.least``/``F.min`` use), so both paths stay output-identical for
    every id type the pair frame can carry."""
    import pandas as pd

    id_type = edges.schema["s"].dataType.simpleString()

    def fold(batches):
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for s, d in zip(pdf["s"].tolist(), pdf["d"].tolist()):
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by min keeps roots canonical as we go
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        if parent:
            ids = list(parent)
            yield pd.DataFrame(
                {"id": ids, "comp": [find(i) for i in ids]}
            )

    return edges.coalesce(1).mapInPandas(
        fold, f"id {id_type}, comp {id_type}"
    )


def duplicate_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    small_graph_edges: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    ``(doc_id, component)`` where component = the minimum doc id reachable
    through the pairs.  This resolves pairwise near-dup hits into dedup
    *groups* (keep one canonical doc per component) — the step after
    MinHash/SimHash pair generation in a training-data pipeline.

    Algorithm: iterative min-label propagation (the standard large-graph
    CC shape, same as GraphX/GraphFrames): each step every node adopts
    ``min(own label, neighbors' labels)``; converges in O(component
    diameter) steps.  Each step is one shuffle on the node id; dedup
    graphs are overwhelmingly tiny stars/cliques, so 3-4 steps typically
    suffice.

    Path choice is adaptive: an edge list at or below
    ``small_graph_edges`` rows whose distinct endpoints also fit
    ``small_graph_edges // 2`` (one cheap aggregate on the materialized
    edge frame) routes to :func:`_components_single_pass` — one-task
    union-find, output-identical, no iteration.  The node bound is the
    one that matters for memory: the fast path holds an O(nodes) parent
    dict in a single Python worker (~150-300 MB at the default 1M-node
    bound).  Post-LSH pair graphs
    are collision survivors, typically orders smaller than the corpus,
    so the fast path covers most real runs; the iterative loop below
    remains the unbounded-scale path (set ``small_graph_edges=0`` to
    force it, as the equivalence tests do).

    Two accelerations on top of plain propagation, both exactness-
    preserving:

    - POINTER DOUBLING: after each propagation step, every node
      shortcuts to its label's label (``comp := comp[comp]`` — always a
      smaller-or-equal node id, since labels are monotone
      nonincreasing).  Propagation alone walks one hop per step, so a
      chain of near-dups (doc A ~ B ~ C ~ ...) costs diameter rounds;
      with shortcutting the distance-to-root roughly halves per step,
      so convergence is O(log diameter) — measured 12 -> 4 steps on the
      sf0.1 SimHash pair graph.  The shortcut is a self-join on the
      (tiny relative to edges) label table.
    - BATCHES OF TWO steps per materialization: the per-round fixed
      cost (localCheckpoint job + change-count job + scheduler latency)
      dominates locally; two step+shortcut pairs chained lazily under
      one checkpoint halve it.  Convergence detection stays exact
      because the batch's LAST propagation step reporting zero changes
      is precisely the fixpoint test (a propagation step changes
      nothing iff every node's label <= all neighbors' labels, which on
      each component forces all labels equal to the component min; an
      extra step past convergence is a no-op, never wrong).

    ``localCheckpoint`` truncates the lineage each batch so the plan
    doesn't grow with iterations (at 100 TB, a persistent checkpoint
    dir does the same durably).  The incoming ``pairs`` frame is also
    checkpointed first: ``edges`` references it twice (both
    directions), and without materialization the upstream pair
    generation — typically a banded LSH join — would execute twice
    inside the edges job.  The driver-side loop only ever collects one
    scalar (the per-batch change count) — never data."""
    pairs = pairs.transform(materialize, eager=True)
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
    )
    edges = edges.transform(materialize, eager=True)
    # Adaptive path choice, AQE-style: a post-LSH pair graph is usually
    # orders of magnitude smaller than its corpus (only banded-collision
    # survivors), so most real runs fit the one-task union-find, whose
    # cost is one Arrow pass instead of O(log diameter) shuffle rounds
    # — locally that's the difference between ~0.5 s and ~5 s of
    # per-round scheduler/codegen overhead.  The stats run against the
    # just-materialized checkpoint (no recompute).  The fast path's
    # whole-graph state is the parent dict — O(nodes), not O(edges) —
    # so the gate checks BOTH: edge rows bound the single-task scan,
    # and distinct endpoints bound the dict at half the edge
    # threshold.  At the 2M-edge default that is <=1M nodes, ~150-300 MB
    # of boxed-Python dict in one worker — a deliberate executor-sized
    # budget, NOT "tens of MB"; size ``small_graph_edges`` down for
    # memory-tight workers.  Above either bound, the distributed
    # pointer-doubling loop below is the scale path.
    #
    # Two short-circuited jobs, not one sketch agg: the node bound only
    # matters once the edge bound passed, and at that point the frame
    # is provably small (<= small_graph_edges checkpointed rows), so an
    # EXACT distinct count is cheap — while a big graph pays only the
    # plain count and skips the distinct entirely.  (The r11 combined
    # approx_count_distinct(rsd=0.01) agg measured ~0.5 s slower at
    # sf0.1 than either of these jobs; exact also retires the
    # sketch-underestimate routing concern outright.)
    use_fast_path = False
    if small_graph_edges:
        m = edges.count()
        if m <= small_graph_edges:
            n = edges.select("s").distinct().count()
            use_fast_path = n <= small_graph_edges // 2
    if use_fast_path:
        labels = _components_single_pass(edges)
        sizes = labels.groupBy("comp").agg(
            F.count(F.lit(1)).alias("component_size")
        )
        return labels.join(sizes, "comp").select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            "component_size",
        )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )

    def _step(lbl: DataFrame) -> DataFrame:
        neighbor_min = (
            edges.join(lbl, edges["d"] == lbl["id"])
            .groupBy(F.col("s").alias("id"))
            .agg(F.min("comp").alias("n_comp"))
        )
        return lbl.join(neighbor_min, "id", "left").select(
            "id",
            F.least(
                F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
            ).alias("comp"),
            (F.col("n_comp") < F.col("comp")).alias("changed"),
        )

    def _shortcut(lbl: DataFrame) -> DataFrame:
        # comp := comp[comp]; every comp value is a node id, so the left
        # join always hits (coalesce only guards the join's own NULLs)
        roots = lbl.select(
            F.col("id").alias("comp"), F.col("comp").alias("comp2")
        )
        return lbl.join(roots, "comp", "left").select(
            "id",
            F.coalesce("comp2", "comp").alias("comp"),
            "changed",
        )

    steps_per_batch = 2
    converged = False
    for _ in range((max_iter + steps_per_batch - 1) // steps_per_batch):
        cur = labels
        for _s in range(steps_per_batch):
            cur = _shortcut(_step(cur.select("id", "comp")))
        updated = cur.transform(materialize, eager=True)
        n_changed = updated.where(F.col("changed")).count()
        labels = updated.select("id", "comp")
        if n_changed == 0:
            converged = True
            break
    if not converged:
        # returning mid-propagation labels would silently split one true
        # component into several with wrong ids/sizes
        raise RuntimeError(
            f"duplicate_components did not converge in {max_iter} rounds "
            "(component diameter exceeds max_iter); raise max_iter"
        )
    sizes = labels.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        labels.join(sizes, "comp")
        .select(
            F.col("id").alias("doc_id"),
            F.col("comp").alias("component"),
            "component_size",
        )
    )
