"""Similarity search over embedding columns (SURVEY.md Part B).

The families, all ranked by the one top-k order of :func:`_top_k`:

- **Brute force** (:func:`cosine_topk`, :func:`neardup_exact_pairs`): the
  exactness baseline.  The small query set rides the task closure and the
  corpus streams through an Arrow scorer of exact left-fold dots.
- **SRP** (signed random projections: :func:`lsh_topk`,
  :func:`lsh_multitable_topk`, :func:`embedding_neardup_pairs`): one Arrow
  pass (:func:`srp_units`) buckets each vector in one or more hyperplane
  tables, and only same-bucket pairs are scored.  The coefficients are
  index-derived arithmetic, so there is no model to store and DuckDB
  replays the buckets (:func:`srp_bucket_sql`).
- **IVF** (inverted file: :func:`ivf_topk`, :func:`ivf_topk_join`): Voronoi
  cells around the lowest-id vectors; each query scores only its
  ``n_probe`` nearest cells.
- **SQ8** (:func:`sq8_rescore_topk`) and **PQ** (:func:`pq_adc_topk`):
  1-byte codes rank the SRP candidates; :func:`exact_rescore_topk` re-ranks
  a quantized top-R with exact folds.
- **Stored indexes**: IVF (:func:`write_ivf_index`,
  :func:`ivf_topk_stored`) and PQ (:func:`write_pq_index`,
  :func:`pq_adc_topk_stored`) keep the one layout of
  :mod:`operators.index_layout` (partitioned base, appendable delta zone,
  crash-safe compaction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.vectors import dot, dot_fixed, norm
from label_maker_dask_spark.operators.guards import parallelism_floor
from label_maker_dask_spark.operators.index_layout import (
    append_delta,
    append_delta_exactly_once,
    compact_index,
    read_index,
    write_base,
)
from label_maker_dask_spark.streaming.commit import start_sink

#: Brute-force / IVF operators ship the query set with the task closure, so
#: it must stay driver- and executor-memory small.  At 64-dim float64 the
#: default cap is ~5 MB of vectors — far below broadcast limits but large
#: enough for any realistic "score these probes" workload.
DEFAULT_MAX_QUERIES = 10_000


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str, max_queries: int, op: str):
    """Enforce the small-query-set contract BEFORE collecting.

    ``cosine_topk``/``ivf_topk`` broadcast the query side; an unbounded
    ``toPandas`` here would OOM the driver on a large query DataFrame.
    ``limit(max+1)`` bounds the collect itself (we never pull more than one
    row past the cap), and the error names the operators built for
    corpus-sized query sets."""
    qpd = queries.select(id_col, vec_col).limit(max_queries + 1).toPandas()
    if len(qpd) > max_queries:
        raise ValueError(
            f"{op}: query set exceeds max_queries={max_queries}. The "
            "brute-force/IVF paths collect and broadcast the query side; "
            "for large query sets use lsh_topk / lsh_multitable_topk "
            "(bucket-join, no collect), ivf_topk_join (cell join, no "
            "collect) or write_ivf_index + ivf_topk_stored with a chunked "
            "query loop, or raise max_queries explicitly if the driver can "
            "hold the set."
        )
    return qpd


def _top_k(
    scored: DataFrame, k: int, score: str = "cosine_sim", asc: bool = False
) -> DataFrame:
    """(query_id, rank, neighbor_id, ``score``): per query, the k rows
    best by ``score`` (highest first, lowest with ``asc``), ties to the
    lower neighbor id — the one total order every top-k here ranks by,
    so stored, on-the-fly and SQL forms agree row for row."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).asc() if asc else F.col(score).desc(),
        F.col("neighbor_id").asc(),
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", score)
    )


def _scored_top_k(rows: DataFrame, score, id_col: str, k: int) -> DataFrame:
    """:func:`_top_k` of an Arrow scorer: ``score`` maps ``rows``'
    batches to (query_id, neighbor_id, raw_sim) candidate rows;
    self-matches are dropped and the similarity is rounded to 6 places.

    No parallelism floor: per-row work is bounded by the collected query
    set (<= max_queries dots), so a small single-partition input is fast
    serially, and a large input scans with parallelism anyway — the
    floor's exchange + per-task Python worker fan-out measured as a net
    LOSS on every bounded-query scorer (round-17 interleaved A/B; the
    floor stays ONLY where per-row work is corpus-sized:
    neardup_exact_pairs)."""
    id_type = rows.schema[id_col].dataType.simpleString()
    scored = rows.mapInPandas(
        score, f"query_id {id_type}, neighbor_id {id_type}, raw_sim double"
    )
    return _top_k(
        scored.where(F.col("query_id") != F.col("neighbor_id")).withColumn(
            "cosine_sim", F.round(F.col("raw_sim"), 6)
        ),
        k,
    )


def _cosine_top_k(pairs: DataFrame, k: int, dim: int) -> DataFrame:
    """:func:`_top_k` of candidate (query_id, neighbor_id, qv, cv) pairs
    of unit vectors, scored by the fixed-``dim`` fold dot rounded to 6
    places."""
    return _top_k(
        pairs.select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_fixed(F.col("qv"), F.col("cv"), dim), 6
            ).alias("cosine_sim"),
        ),
        k,
    )


def normalized(df: DataFrame, id_col: str, vec_col: str, id_alias: str, vec_alias: str) -> DataFrame:
    """Project each vector onto the unit sphere once, so the per-pair cost
    later is a single dot product (three folds per pair otherwise).

    The norm is materialized as a column BEFORE the per-element transform:
    higher-order functions are interpreted with no common-subexpression
    elimination, so referencing the norm fold inside the lambda would
    re-evaluate it per element (O(d^2) per row instead of O(d))."""
    with_n = df.select(
        F.col(id_col).alias(id_alias), F.col(vec_col).alias("_v")
    ).withColumn("_n", norm(F.col("_v")))
    return with_n.select(
        id_alias,
        F.transform(
            F.col("_v"), lambda x: x.cast("double") / F.col("_n")
        ).alias(vec_alias),
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """For each query row, the k nearest corpus rows by cosine (self-matches
    excluded).  Ties break on neighbor id so the result is total-ordered and
    cross-engine stable.

    Scale shape: the query set is collected once and shipped with the
    closure (the brute-force contract is |queries| small, corpus unbounded);
    the corpus streams through an Arrow-batched ``mapInPandas`` scorer
    computing exact left-fold dot products per batch (bit-reproducible by
    the oracle) and emits only the per-batch top-(k+1)
    rows per query — so the shuffle into the final global top-k window is
    O(partitions * |queries| * k), independent of corpus size.  Every global
    top-k row is necessarily in its batch's top-(k+1) (self-match removal
    costs at most one slot), so the two-phase selection is exact."""
    import numpy as np
    import pandas as pd

    qpd = _collect_queries(queries, id_col, vec_col, max_queries, "cosine_topk")
    q_ids = qpd[id_col].to_numpy()
    qm = _unit_exact(_matrix(qpd[vec_col]))
    take = k + 1

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            cm = _unit_exact(_matrix(pdf[vec_col]))
            # sort batch rows by neighbor id so a row's index IS its id
            # rank — the tie-break key below stays a scalar
            id_order = np.argsort(ids, kind="stable")
            ids, cm = ids[id_order], cm[id_order]
            # exact left-fold dots (not BLAS matmul): round-6 absorbs most
            # pairwise-summation ulps, but a value within an ulp of a
            # .5e-6 boundary would still flip the oracle hash — the fold
            # removes that residual risk entirely
            sims = _dots_exact(cm, qm)  # (n_corpus, n_queries)
            # per-batch candidate cut uses the same (rounded sim desc,
            # neighbor asc) order as the final window, so boundary ties are
            # resolved identically in both phases.  Selection is one
            # argpartition over a combined scalar key instead of a
            # per-query lexsort: sims6*1e6 is an exact small integer in
            # float64; scaling it by L (a power of 10 > batch rows) and
            # subtracting the id rank (< L) keeps every key an exact
            # distinct integer — ties on sims6 break toward the smaller
            # id and never cross a real 1e-6 sim gap.
            sims6 = np.round(sims, 6)
            m = min(take, len(ids))
            L = 10.0 ** int(np.ceil(np.log10(max(len(ids), 2))))
            key = sims6 * (1e6 * L) - np.arange(len(ids), dtype=np.float64)[:, None]
            part = np.argpartition(-key, m - 1, axis=0)[:m]  # (m, n_queries)
            cols = np.broadcast_to(np.arange(sims.shape[1]), part.shape)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, m),
                    "neighbor_id": ids[part.T.ravel()],
                    "raw_sim": sims[part.T.ravel(), cols.T.ravel()],
                }
            )

    return _scored_top_k(embeddings.select(id_col, vec_col), score, id_col, k)


def _matrix(vectors):
    """The float64 (rows, dim) matrix of a pandas column of vectors; a
    (0, 0) matrix for no rows, which ``np.stack`` refuses."""
    import numpy as np

    if len(vectors) == 0:
        return np.zeros((0, 0))
    return np.stack(vectors.to_numpy()).astype(np.float64)


def _unit_exact(mat):
    """Unit-normalize rows with the exact left-fold norm (loop over the
    dim axis; bit-identical to the expression/SQL fold, unlike
    np.linalg.norm's pairwise summation)."""
    import numpy as np

    acc = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * mat[:, d]
    return mat / np.sqrt(acc)[:, None]


def _dots_exact(a, b):
    """(n,dim) x (m,dim) -> (n,m) dot products accumulated left-to-right
    over the dim axis — the vectorized twin of the fold dot, bit-identical
    to the SQL oracle (never BLAS matmul).  An empty side gives an empty
    product, whatever the other side's width."""
    import numpy as np

    dp = np.zeros((len(a), len(b)))
    if dp.size == 0:
        return dp
    for d in range(a.shape[1]):
        dp = dp + a[:, d : d + 1] * b[:, d][None, :]
    return dp


def _score_probed(ids, cells, xm, q_ids, qm, probe, take):
    """The per-batch IVF scorer of :func:`_ivf_probe_topk`: for each
    query, score unit rows whose cell is probed and keep the batch
    top-``take`` under the (rounded sim desc, neighbor asc) order the
    final window also uses.  Returns a DataFrame or None."""
    import numpy as np
    import pandas as pd

    out_q, out_n, out_s = [], [], []
    for j in range(len(q_ids)):
        mask = np.isin(cells, probe[j])
        if not mask.any():
            continue
        cand_ids = ids[mask]
        sims = _dots_exact(xm[mask], qm[j : j + 1])[:, 0]
        sims6 = np.round(sims, 6)
        m = min(take, len(cand_ids))
        order = np.lexsort((cand_ids, -sims6))[:m]
        out_q.append(np.full(m, q_ids[j]))
        out_n.append(cand_ids[order])
        out_s.append(sims[order])
    if not out_q:
        return None
    return pd.DataFrame(
        {
            "query_id": np.concatenate(out_q),
            "neighbor_id": np.concatenate(out_n),
            "raw_sim": np.concatenate(out_s),
        }
    )


def projection_coeff(j: int, d: int) -> float:
    """Deterministic pseudo-random coefficient for hyperplane j, dim d —
    integer arithmetic mapped into [-0.5, 0.5), replayable in SQL."""
    return ((j * 2654435761 + d * 40503) % 1024) / 1024.0 - 0.5


def srp_bucket_sql(
    vec: str, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> str:
    """DuckDB twin of :func:`srp_bucket`: the same left-fold dot products
    against the same inlined coefficient literals (each coefficient is a
    multiple of 1/1024, so the decimal literal is an exact float64 and both
    engines evaluate identical arithmetic), making SRP-bucketed ANN results
    replayable — and therefore oracle-checkable — despite being
    'approximate' relative to brute force.  ``plane_offset`` selects the
    hyperplane family: table t of a multi-table index uses planes
    ``t*n_planes .. (t+1)*n_planes - 1`` (the coefficient stream is one
    infinite deterministic sequence, so tables are as independent as the
    single-table planes are from each other)."""
    terms = []
    for bit in range(n_planes):
        j = plane_offset + bit
        coeffs = ", ".join(repr(projection_coeff(j, d)) for d in range(dim))
        dot_j = (
            f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(generate_series(1, {dim}), "
            f"i -> {vec}[i]::DOUBLE * ([{coeffs}]::DOUBLE[])[i])), "
            f"(x, y) -> x + y)"
        )
        terms.append(f"(CASE WHEN {dot_j} > 0 THEN {1 << bit} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::INT"


def srp_bucket(
    vec: Column, n_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Signed-random-projection bucket id: bit j = sign of <vec, r_j>.
    ``plane_offset`` selects the hyperplane family (multi-table LSH).

    Stays beside the Arrow pass :func:`srp_units` on purpose: the SQ8
    encode and PQ build/query projections compute the bucket inline in
    the projection that already reads the vector, where ``srp_units``
    would add a ``mapInPandas`` and a join back on the id.  Swapped in,
    that measured slower in ``bench.py`` at sf0.1 (4 cores, median of
    3 runs x 3 passes): ``similarity_pq_index_build`` 4.17 -> 4.55 s,
    ``similarity_pq_adc_topk_ann`` 1.57 -> 2.04 s,
    ``similarity_sq8_rescore_ann`` 0.82 -> 0.83 s."""
    bits = []
    for bit in range(n_planes):
        j = plane_offset + bit
        coeffs = F.array(*[F.lit(projection_coeff(j, d)) for d in range(dim)])
        dot_j = F.aggregate(
            F.zip_with(vec, coeffs, lambda x, r: x.cast("double") * r),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        bits.append(F.when(dot_j > 0, F.lit(1 << bit)).otherwise(F.lit(0)))
    return sum(bits, F.lit(0)).cast("int")


def srp_units(
    df: DataFrame,
    id_alias: str,
    vec_alias: str,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
) -> DataFrame:
    """The one SRP signature pass: one ``mapInPandas`` emitting
    ``(id, unit vector, tbl, bucket)``, ``n_tables`` rows per input row,
    table t bucketed by hyperplanes ``t*n_planes..(t+1)*n_planes-1``
    (table 0 is the single-table family of :func:`srp_bucket`).  All
    ``n_tables * n_planes`` projections come from one batched fold, so L
    tables cost one corpus pass, not L.

    Bit-exactness contract: every fold is evaluated left-to-right per
    element — a Python loop over the (fixed, small) dim axis with numpy
    vectorization across rows — never ``np.sum``/``np.dot`` pairwise
    summation, so norms, projections, and therefore bucket SIGNS are
    identical to the interpreted expression form and the SQL oracle.
    The expression path pays ~n_planes*dim interpreted lambda calls per
    row; this pays ~n_planes*dim numpy ops per BATCH."""
    import numpy as np
    import pandas as pd

    coeffs = np.array(
        [
            [projection_coeff(j, d) for d in range(dim)]
            for j in range(n_tables * n_planes)
        ]
    )
    id_type = df.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = _matrix(pdf[vec_col])
            unit = _unit_exact(mat)
            signs = (_dots_exact(mat, coeffs) > 0).astype(np.int64)
            buckets = np.zeros((len(mat), n_tables), dtype=np.int64)
            for t in range(n_tables):
                for bit in range(n_planes):
                    buckets[:, t] |= signs[:, t * n_planes + bit] << bit
            yield pd.DataFrame(
                {
                    id_alias: np.repeat(pdf[id_col].to_numpy(), n_tables),
                    vec_alias: [u for u in unit for _ in range(n_tables)],
                    "tbl": np.tile(
                        np.arange(n_tables, dtype=np.int32), len(mat)
                    ),
                    "bucket": buckets.reshape(-1).astype("int32"),
                }
            )

    # no floor: per-row work is a fixed L*n_planes*dim stencil — serial
    # is fine for small inputs, scans parallelize large ones (r17 A/B)
    return df.select(id_col, vec_col).mapInPandas(
        gen,
        f"{id_alias} {id_type}, {vec_alias} array<double>, "
        "tbl int, bucket int",
    )


def _srp_topk(
    embeddings, queries, k, n_planes, n_tables, dim, id_col, vec_col,
    multiprobe=0,
):
    """The one SRP top-k body of :func:`lsh_topk` and
    :func:`lsh_multitable_topk`: the broadcast query side meets the
    corpus in an EQUI-join on (tbl, bucket), multi-probe explodes the
    query side over its Hamming-1 buckets, and with several tables the
    (query, neighbor) pairs colliding in more than one table collapse
    BEFORE scoring (value-deterministic: every copy carries the same unit
    vectors), so each pair is scored once."""
    c = srp_units(
        embeddings, "neighbor_id", "cv", n_planes, dim, id_col, vec_col,
        n_tables,
    )
    q = srp_units(
        queries, "query_id", "qv", n_planes, dim, id_col, vec_col, n_tables
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(n_planes)
            ],
        )
        q = q.withColumn("bucket", F.explode(probes))
    cand = c.join(F.broadcast(q), ["tbl", "bucket"]).where(
        F.col("query_id") != F.col("neighbor_id")
    )
    if n_tables > 1:
        cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return _cosine_top_k(cand, k, dim)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 0,
) -> DataFrame:
    """ANN top-k: compare only pairs sharing an SRP bucket.  Recall < 1 by
    construction (ANN contract); bucket join shuffles on the small int
    bucket id.

    ``multiprobe=1`` enables standard multi-probe LSH (Lv et al. 2007):
    each query also probes the ``n_planes`` buckets at Hamming distance 1
    (one hyperplane sign flipped — the buckets a near-boundary neighbor
    most likely fell into), trading a (n_planes+1)x candidate bound for
    several-fold recall.  Implemented as a query-side explode over the
    probe bucket ids, so the join stays an EQUI-join on the bucket key —
    never a hamming theta-join — and a (query, neighbor) pair still
    matches at most once (a corpus row has one bucket; the probe set is
    distinct).  The recall lift is measured, hash-gated evidence:
    ``similarity_recall_srp_multiprobe_vs_exact`` vs
    ``similarity_recall_srp_vs_exact``."""
    if multiprobe not in (0, 1):
        raise ValueError(
            f"multiprobe={multiprobe!r}: only 0 (exact bucket) and 1 "
            "(single-bit flips) are supported — deeper probe sequences "
            "multiply candidates past what one SRP table justifies; use "
            "lsh_multitable_topk (L independent tables, the high-recall "
            "tier) or IVF probes (ivf_topk) for a tunable recall/cost dial"
        )
    return _srp_topk(
        embeddings, queries, k, n_planes, 1, dim, id_col, vec_col, multiprobe
    )


def lsh_multitable_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-table SRP ANN top-k — the standard E2LSH high-recall
    construction (Indyk–Motwani / Gionis et al. OR-composition): L
    independent 8-plane tables, a candidate is any corpus row sharing a
    bucket with the query in ANY table.  Per-pair miss probability
    drops from ``1 - p^b`` to ``(1 - p^b)^L`` (p = per-plane sign
    agreement, b = n_planes), which is what takes SRP from a ~0.56
    recall@5 tier to >=0.9 on the planted-cluster corpus — measured,
    hash-gated evidence: ``similarity_recall_multitable_planted_vs_exact``
    vs ``similarity_recall_srp_planted_vs_exact``.

    Scale shape: the corpus emits L index rows per vector in ONE Arrow
    pass (the L-times index size every multi-table LSH deployment pays);
    the join stays an EQUI-join on the composite (tbl, bucket) key with
    the query side broadcast, and colliding pairs collapse before
    scoring (:func:`_srp_topk`), so the candidate-work bound is the sum
    over tables of per-bucket occupancy."""
    return _srp_topk(
        embeddings, queries, k, n_planes, n_tables, dim, id_col, vec_col
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine >= threshold, bucketed by SRP
    so only same-bucket pairs are scored (high-cosine pairs land in the same
    bucket with high probability)."""
    e = srp_units(embeddings, "id", "v", n_planes, dim, id_col, vec_col)
    a = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"), "bucket")
    b = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                dot_fixed(F.col("va"), F.col("vb"), dim), 6
            ).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


def neardup_exact_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_corpus: int = 100_000,
) -> DataFrame:
    """EXACT all-pairs cosine >= threshold — the brute-force oracle twin
    of :func:`embedding_neardup_pairs`, restructured from a JVM
    nested-loop join into one Arrow pass (guide §4.2: hand whole batches
    to vectorized native code instead of evaluating an expression per
    pair).

    Shape: the corpus is bounded (same 100k contract the catalog guard
    enforces), collected once and unit-normalized with the exact
    left-fold (:func:`_unit_exact`), then shipped to executors as a
    Spark broadcast; the same corpus streams through ``mapInPandas``
    and each batch computes its block of the pair matrix with
    :func:`_dots_exact` — vectorized over pairs, sequential over the
    dim axis, so every dot is BIT-IDENTICAL to the ``zip_with`` +
    ``aggregate`` fold the previous join projection evaluated (and to
    the DuckDB oracle).  Rounding and the final threshold stay in the
    JVM (``F.round`` half-up on the exact double), with a conservative
    ``threshold - 1e-6`` raw pre-cut so no pair that could round up to
    the threshold is dropped in Python.

    Faithfulness to the join form: pairs are emitted once (id_a <
    id_b); rows whose vector is NULL or whose length differs from the
    batch's are handled per length group — a cross-length pair's
    ``zip_with`` fold yields NULL (dropped by the threshold filter),
    and same-length pairs fold over that length — so the emitted set is
    identical for ANY input, not just the uniform-64 corpus."""
    import numpy as np
    import pandas as pd

    bpd = embeddings.select(id_col, vec_col).limit(max_corpus + 1).toPandas()
    if len(bpd) > max_corpus:
        raise ValueError(
            f"neardup_exact_pairs: input exceeds max_corpus={max_corpus}. "
            "This is the exact quadratic baseline; at scale use "
            "embedding_neardup_pairs (SRP-bucketed), or raise max_corpus "
            "explicitly if the quadratic cost is intended."
        )

    def _by_length(ids, vecs):
        """Group (id, vector) rows by vector length -> {len: (ids, unit
        matrix)}; NULL vectors are dropped (their fold dot is NULL)."""
        groups: dict = {}
        keep = [
            (i, v) for i, v in zip(ids, vecs)
            if v is not None and len(v) > 0
        ]
        if not keep:
            return groups
        lens = np.array([len(v) for _, v in keep])
        arr_ids = np.array([i for i, _ in keep])
        for ln in np.unique(lens):
            sel = lens == ln
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for (_, v), m
                 in zip(keep, sel) if m]
            )
            groups[int(ln)] = (arr_ids[sel], _unit_exact(mat))
        return groups

    b_groups = _by_length(
        bpd[id_col].to_numpy(), bpd[vec_col].to_numpy()
    )
    bc = embeddings.sparkSession.sparkContext.broadcast(b_groups)
    raw_cut = threshold - 1e-6

    def score(batches):
        groups = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for ln, (a_ids, am) in _by_length(
                pdf[id_col].to_numpy(), pdf[vec_col].to_numpy()
            ).items():
                if ln not in groups:
                    continue
                b_ids, bm = groups[ln]
                # slab the pair-matrix so memory stays ~32 MB per block
                slab = max(1, (1 << 22) // max(len(b_ids), 1))
                for s in range(0, len(a_ids), slab):
                    sa_ids, sam = a_ids[s:s + slab], am[s:s + slab]
                    sims = _dots_exact(sam, bm)
                    ai, bi = np.nonzero(
                        (sims >= raw_cut)
                        & (sa_ids[:, None] < b_ids[None, :])
                    )
                    if len(ai) == 0:
                        continue
                    yield pd.DataFrame(
                        {
                            "id_a": sa_ids[ai],
                            "id_b": b_ids[bi],
                            "raw_sim": sims[ai, bi],
                        }
                    )

    id_type = embeddings.schema[id_col].dataType.simpleString()
    # the floor STAYS here: per-row work is corpus-sized (each batch row
    # scores against the whole broadcast corpus), so a one-partition scan
    # serializes an O(n^2) pair matrix through one core — round-17
    # interleaved A/B: 0.91 s floored vs 3.77 s unfloored at sf0.1
    scored = parallelism_floor(
        embeddings.select(id_col, vec_col)
    ).mapInPandas(
        score, f"id_a {id_type}, id_b {id_type}, raw_sim double"
    )
    return (
        scored.withColumn("cosine_sim", F.round(F.col("raw_sim"), 6))
        .where(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
    )


def _seed_centroids(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
):
    """The coarse quantizer every IVF build starts from: the ``n_cells``
    lowest-id vectors, unit-normalized (none for an empty corpus)."""
    cpd = embeddings.orderBy(id_col).limit(n_cells).select(vec_col).toPandas()
    return _unit_exact(_matrix(cpd[vec_col]))


def _stored_centroids(spark, path: str):
    """A stored IVF index's unit centroids, in cell order."""
    cent = spark.read.parquet(path + "/centroids").orderBy("cell").toPandas()
    return _matrix(cent["cv"])


def _ivf_probe_topk(
    queries, cm, corpus, k, n_probe, id_col, vec_col, max_queries, op
):
    """The one IVF probe-and-score body of :func:`ivf_topk` and
    :func:`ivf_topk_stored`: collect the queries, pick each query's
    ``n_probe`` nearest of the unit centroids ``cm`` (ties by cell
    index, stable), and score the rows of ``corpus(probed cells)`` that
    lie in a probed cell with :func:`_score_probed`.  A row's cell is
    its stored ``cell`` column when the corpus has one, else its nearest
    centroid, computed on the fly.  No queries or no centroids probe
    nothing and give zero rows."""
    import numpy as np

    qpd = _collect_queries(queries, id_col, vec_col, max_queries, op)
    q_ids = qpd[id_col].to_numpy()
    qm = _unit_exact(_matrix(qpd[vec_col]))
    probe = np.argsort(
        -_dots_exact(qm, cm), kind="stable", axis=1
    )[:, :n_probe]
    rows = corpus(sorted({int(c) for c in probe.ravel()}))
    take = k + 1

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = _unit_exact(_matrix(pdf[vec_col]))
            if "cell" in pdf.columns:
                cells = pdf["cell"].to_numpy()
            else:
                cells = np.argmax(_dots_exact(xm, cm), axis=1)
            out = _score_probed(
                pdf[id_col].to_numpy(), cells, xm, q_ids, qm, probe, take
            )
            if out is not None:
                yield out

    return _scored_top_k(rows, score, id_col, k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """IVF-style ANN top-k: partition the corpus into ``n_cells`` Voronoi
    cells around deterministic seed centroids (the ``n_cells`` lowest-id
    vectors), probe each query's ``n_probe`` nearest cells, and score only
    corpus rows landing in a probed cell.

    Scale shape: cell assignment is one matmul per Arrow batch; scoring is
    masked to probed cells, so probe cost follows cell occupancy
    (~n_probe/n_cells of the corpus) instead of corpus size.  In a stored
    index the cell id becomes a partition column and non-probed cells are
    pruned at the parquet scan — this operator computes the same
    assignment on the fly.  Recall < 1 vs brute force by the ANN
    contract (bounded in tests), but every fold below runs left-to-right
    per element (never BLAS matmul / pairwise summation), so cell
    assignment, probe ranking, and scores are bit-exact replayable — the
    oracle recomputes the identical result in SQL."""
    return _ivf_probe_topk(
        queries,
        _seed_centroids(embeddings, n_cells, id_col, vec_col),
        lambda _cells: embeddings.select(id_col, vec_col),
        k, n_probe, id_col, vec_col, max_queries, "ivf_topk",
    )


def write_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index ``ivf_topk`` computes on the fly: corpus
    rows written partitioned by their Voronoi cell id (``<path>/data``),
    centroids alongside (``<path>/centroids``).  Cell assignment uses the
    same exact left-fold arithmetic as ``ivf_topk``, so a stored-index
    query returns the identical result — the only difference is that
    non-probed cells are pruned at the parquet scan instead of filtered
    after a full read.  An empty corpus gives an index with no centroids
    and no rows, which answers zero rows."""
    import pandas as pd

    cm = _seed_centroids(embeddings, n_cells, id_col, vec_col)
    embeddings.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "cell": range(len(cm)),
                "cv": [[float(x) for x in v] for v in cm],
            }
        ),
        "cell int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    write_base(_assigned_cells(embeddings, cm, id_col, vec_col), path, "cell")


def _assigned_cells(embeddings: DataFrame, cm, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, cell) rows: each vector labeled with its nearest-centroid
    Voronoi cell, via the same exact left-fold arithmetic every IVF path
    uses (``_unit_exact``/``_dots_exact``)."""
    import numpy as np

    id_type = embeddings.schema[id_col].dataType.simpleString()
    vec_type = embeddings.schema[vec_col].dataType.simpleString()

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = _unit_exact(_matrix(pdf[vec_col]))
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = np.argmax(_dots_exact(xm, cm), axis=1).astype("int32")
            yield out

    # no floor: one argmax over n_cells per row (see srp_units rationale)
    return embeddings.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} {id_type}, {vec_col} {vec_type}, cell int"
    )


def append_ivf_index(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a stored IVF index WITHOUT a rebuild:
    new rows are assigned to cells under the index's *existing* coarse
    quantizer (stored centroids are read, never recomputed — standard IVF
    maintenance) and land in the index's delta zone
    (:func:`index_layout.append_delta`, sorted by cell).

    Queries against the appended index are identical to queries against
    an index rebuilt over the union with the same centroids, because cell
    assignment and scoring depend only on the centroids — which this
    operation never changes.  (A from-scratch ``write_ivf_index`` on the
    union could pick different seed centroids and so different — equally
    valid — probe sets; pin the quantizer by appending.)  An index built
    from no vectors has no centroids to assign under: appending to it
    raises ``ValueError``; rebuild it with ``write_ivf_index``.

    100 TB posture: this is how an embedding index tracks a growing
    corpus — per batch, one narrow Arrow pass over only the NEW vectors
    plus one delta-zone append; the existing data files are untouched,
    so maintenance cost is proportional to the increment, not the index.
    Stored reads union the delta zone under the same cell predicate;
    :func:`index_layout.compact_index` folds it into the cell
    partitions (and :func:`rebalance_ivf_index` compacts first).
    """
    cm = _stored_centroids(new_embeddings.sparkSession, path)
    if len(cm) == 0:
        raise ValueError(
            f"append_ivf_index: index {path!r} has no centroids (it was "
            "built from no vectors), so appended rows have no cell; "
            "rebuild it with write_ivf_index over the vectors instead"
        )
    append_delta(
        _assigned_cells(new_embeddings, cm, id_col, vec_col), path, "cell"
    )


def ivf_topk_join(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN where BOTH sides are corpus-sized: nothing but the
    ``n_cells`` centroid rows ever reaches the driver.

    ``ivf_topk``/``ivf_topk_stored`` collect-and-broadcast the query set
    (capped by ``max_queries``) — the right shape for "score these
    probes".  This variant is the all-pairs-ANN shape (e.g. k-NN graph
    construction over the whole corpus): corpus rows are labeled with
    their cell, query rows explode to their ``n_probe`` probe cells, and
    a plain shuffle JOIN on the cell id meets them — per-cell work, no
    collect, both sides stream.  Scoring uses the same exact left-fold
    arithmetic as every IVF path (unit vectors from ``_unit_exact``, the
    fold ``dot`` expression), so results are bit-identical to
    ``ivf_topk`` under the same centroids (tested) and the same DuckDB
    oracle replays them.

    100 TB posture: two narrow Arrow passes + one join shuffled on
    ~n_probe/n_cells of the candidate volume + the per-query top-k
    window.  Hot cells (drifted index) dominate the join — rebalance
    with :func:`rebalance_ivf_index`'s splitting when
    :func:`ivf_cell_stats` flags them."""
    import numpy as np
    import pandas as pd

    cm = _seed_centroids(embeddings, n_cells, id_col, vec_col)
    id_type = embeddings.schema[id_col].dataType.simpleString()

    def corpus_gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            xm = _unit_exact(_matrix(pdf[vec_col]))
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "cv": [[float(x) for x in row] for row in xm],
                    "cell": np.argmax(_dots_exact(xm, cm), axis=1).astype(
                        "int32"
                    ),
                }
            )

    # no floor: linear per-row cell assignment (see srp_units rationale)
    corpus = embeddings.select(id_col, vec_col).mapInPandas(
        corpus_gen, f"neighbor_id {id_type}, cv array<double>, cell int"
    )

    def query_gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qm = _unit_exact(_matrix(pdf[vec_col]))
            probe = np.argsort(
                -_dots_exact(qm, cm), kind="stable", axis=1
            )[:, :n_probe]
            # probe.shape[1] < n_probe when there are fewer cells
            per_q = probe.shape[1]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), per_q),
                    "qv": [
                        [float(x) for x in q] for q in qm for _ in range(per_q)
                    ],
                    "cell": probe.ravel().astype("int32"),
                }
            )

    qprobe = queries.select(id_col, vec_col).mapInPandas(
        query_gen, f"query_id {id_type}, qv array<double>, cell int"
    )

    scored = (
        corpus.join(qprobe, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")), 6).alias("cosine_sim"),
        )
    )
    return _top_k(scored, k)


def _cell_occupancy(spark, path: str):
    """({cell: rows}, mean rows per cell) of a stored IVF index, base and
    delta zone; ({}, 0.0) for an index that stores no rows."""
    counts = {
        r["cell"]: r["count"]
        for r in read_index(spark, path, schema="cell int")
        .groupBy("cell").count().collect()
    }
    return counts, sum(counts.values()) / max(len(counts), 1)


def ivf_cell_stats(spark, path: str) -> dict:
    """Cell-occupancy drift metrics for a stored IVF index.  After heavy
    appends under a frozen quantizer (``append_ivf_index``), inserts
    concentrate in the cells nearest the new data's distribution: probe
    cost rises (a probed hot cell scans far more than corpus/n_cells
    rows) and recall sags (one Voronoi region is doing the work of many).
    Returns ``{"n_cells", "total", "mean", "max", "imbalance",
    "oversized"}`` where ``imbalance`` = max/mean occupancy and
    ``oversized`` lists cells above 2x mean — the signal to run
    :func:`rebalance_ivf_index`.  Cost: one partition-column aggregate
    (a metadata-cheap scan of cell ids only, plus the delta zone's)."""
    counts, mean = _cell_occupancy(spark, path)
    mx = max(counts.values(), default=0)
    return {
        "n_cells": len(counts),
        "total": sum(counts.values()),
        "mean": mean,
        "max": mx,
        "imbalance": mx / mean if mean else 0.0,
        "oversized": sorted(c for c, n in counts.items() if n > 2 * mean),
    }


def recover_ivf_rebalance(path: str) -> None:
    """Finish or roll back an interrupted :func:`rebalance_ivf_index`.
    The rebalance stages everything under ``data._rebal`` (with a
    ``_plan`` manifest naming the cells it touches) before renaming
    anything, and drops a ``_committed`` marker into the staging dir the
    moment the centroid sidecar swap lands.  A leftover staging dir
    therefore decides the direction: marker present → roll FORWARD
    (finish removing set-asides); absent → roll BACK (restore every
    ``cell=N._old``, drop moved-in replacement dirs, restore the old
    centroid sidecar) — either way the index ends consistent."""
    import json as _json
    import os
    import shutil

    staging = path + "/data._rebal"
    cent_new = path + "/centroids._new"
    cent_old = path + "/centroids._old"
    if not os.path.isdir(staging):
        return
    committed = os.path.exists(os.path.join(staging, "_committed"))
    plan_file = os.path.join(staging, "_plan")
    plan = {}
    if os.path.exists(plan_file):
        with open(plan_file) as fh:
            plan = _json.load(fh)
    if committed:
        for c in plan.get("split", []):
            old = f"{path}/data/cell={c}._old"
            if os.path.exists(old):
                shutil.rmtree(old)
        if os.path.exists(cent_old):
            shutil.rmtree(cent_old)
    else:
        new_cells = set(plan.get("new_cells", []))
        for c in plan.get("split", []):
            cur = f"{path}/data/cell={c}"
            old = cur + "._old"
            if os.path.exists(old):
                if os.path.exists(cur):
                    shutil.rmtree(cur)
                os.rename(old, cur)
        for c in new_cells:
            cur = f"{path}/data/cell={c}"
            if os.path.exists(cur):
                shutil.rmtree(cur)
        if os.path.exists(cent_old):
            cur = path + "/centroids"
            if os.path.exists(cur):
                shutil.rmtree(cur)
            os.rename(cent_old, cur)
        if os.path.exists(cent_new):
            shutil.rmtree(cent_new)
    shutil.rmtree(staging)


def rebalance_ivf_index(
    spark,
    path: str,
    threshold: float = 2.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 4,
) -> list:
    """Split drifted IVF cells so occupancy returns to ~mean; touches ONLY
    the oversized cells.  Returns the list of split cell ids across all
    rounds (empty when the index is already balanced).  Runs up to
    ``max_rounds`` split passes: one pass seeds sub-centroids from a
    sample of the drifted cell, so a lopsided first cut can leave a
    sub-cell still above threshold — the next round splits THAT, and each
    round's cost again touches only its oversized cells.  (Coincident
    vectors are unsplittable by any quantizer; the round cap bounds the
    attempt.)

    Each cell with more than ``threshold``x the mean occupancy is split
    into ``ceil(n_cell / mean)`` sub-cells.  Sub-centroids are seeded
    from a deterministic id-hash sample of THAT cell's rows (order by
    ``xxhash64(id)``, take m) — a uniform sample of the drifted
    distribution, where ``write_ivf_index``'s lowest-id seeding would
    bias toward the original corpus and can leave the appended cluster
    unsplit.  The cell's rows are then reassigned among its own
    sub-centroids (one Arrow pass over only those rows — a
    partition-pruned scan), and the centroid sidecar is rewritten (k
    rows).  Untouched cells' data files are never read or written, so
    maintenance cost follows the drift, not the index size.

    The quantizer changes (that is the point), so post-rebalance queries
    may return different — equally valid — ANN results; recall against
    brute force is re-tested after skewed appends in
    tests/test_similarity.py.  Each round first compacts the delta zone
    (:func:`index_layout.compact_index`, which refuses while an append
    intent is pending), so the split reads and rewrites only cell
    partitions.  Crash safety: all replacement data is staged under
    ``data._rebal`` with a manifest before any rename;
    :func:`recover_ivf_rebalance` rolls a torn swap back to the
    pre-rebalance index.  Run single-writer, like every maintenance op
    here."""
    all_split: list = []
    for _ in range(max_rounds):
        split = _rebalance_ivf_round(spark, path, threshold, id_col, vec_col)
        if not split:
            break
        all_split.extend(split)
    return all_split


def _rebalance_ivf_round(
    spark, path: str, threshold: float, id_col: str, vec_col: str
) -> list:
    """One split pass of :func:`rebalance_ivf_index`."""
    import json as _json
    import math
    import os
    import shutil

    import pandas as pd

    recover_ivf_rebalance(path)
    compact_index(spark, path)
    counts, mean = _cell_occupancy(spark, path)
    oversized = sorted(
        c for c, n in counts.items() if n > threshold * mean
    )
    if not oversized:
        return []

    data = read_index(spark, path)
    cent = spark.read.parquet(path + "/centroids").orderBy("cell").toPandas()
    next_id = int(cent["cell"].max()) + 1
    staging = path + "/data._rebal"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    os.makedirs(staging)

    new_rows = []  # (cell, centroid vector) additions
    new_cells = []
    for c in oversized:
        m = max(2, int(math.ceil(counts[c] / mean)))
        cell_rows = data.where(F.col("cell") == c).drop("cell")
        seeds = (
            cell_rows.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(m)
            .select(vec_col)
            .toPandas()
        )
        sub_cm = _unit_exact(_matrix(seeds[vec_col]))
        # global ids: sub-cell 0 keeps id c, the rest are appended
        ids = [c] + list(range(next_id, next_id + len(sub_cm) - 1))
        next_id += len(sub_cm) - 1
        assigned = _assigned_cells(cell_rows, sub_cm, id_col, vec_col)
        mapping = F.create_map(
            *[x for i, g in enumerate(ids) for x in (F.lit(i), F.lit(g))]
        )
        assigned.withColumn("cell", mapping[F.col("cell")]).write.partitionBy(
            "cell"
        ).mode("append").parquet(staging)
        for i, g in enumerate(ids):
            new_rows.append((g, [float(x) for x in sub_cm[i]]))
        new_cells.extend(ids[1:])

    with open(os.path.join(staging, "_plan"), "w") as fh:
        _json.dump({"split": oversized, "new_cells": new_cells}, fh)

    # rewritten centroid sidecar: drop the split cells' old rows, add subs
    keep = cent[~cent["cell"].isin(oversized)]
    adds = pd.DataFrame(new_rows, columns=["cell", "cv"])
    cent_new = path + "/centroids._new"
    spark.createDataFrame(
        pd.concat([keep, adds], ignore_index=True).sort_values("cell"),
        "cell int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(cent_new)

    # swap, with the staging dir as the recover trigger and its
    # _committed marker as the direction bit (see recover_ivf_rebalance):
    # set aside old cell dirs, move replacements in, swap the centroid
    # sidecar rename-aside, mark committed, THEN clean up
    for c in oversized:
        os.rename(f"{path}/data/cell={c}", f"{path}/data/cell={c}._old")
    for name in os.listdir(staging):
        if name.startswith("cell="):
            os.rename(os.path.join(staging, name), f"{path}/data/{name}")
    os.rename(path + "/centroids", path + "/centroids._old")
    os.rename(cent_new, path + "/centroids")
    with open(os.path.join(staging, "_committed"), "w") as fh:
        fh.write("1")
    for c in oversized:
        shutil.rmtree(f"{path}/data/cell={c}._old")
    shutil.rmtree(path + "/centroids._old")
    shutil.rmtree(staging)
    return oversized


def append_ivf_index_exactly_once(
    new_embeddings: DataFrame,
    path: str,
    batch_id: int,
    run_id: Optional[str] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """:func:`append_ivf_index` under the shared replay-safety bracket
    (:func:`index_layout.append_delta_exactly_once`) — the building
    block of the streaming index sink."""
    return append_delta_exactly_once(
        path,
        batch_id,
        run_id,
        lambda: append_ivf_index(new_embeddings, path, id_col, vec_col),
        "ivf",
    )


def stream_embeddings_to_ivf_index(
    new_embeddings: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebalance_imbalance: Optional[float] = None,
    available_now: bool = True,
):
    """Continuously grow a stored IVF index from an embedding stream: each
    micro-batch appends under the frozen coarse quantizer
    (exactly-once — :func:`append_ivf_index_exactly_once`), and when
    ``rebalance_imbalance`` is set, any batch that leaves
    ``ivf_cell_stats``'s max/mean occupancy above it triggers
    :func:`rebalance_ivf_index` — the full index-maintenance loop
    (ingest → drift watch → split) as one streaming sink.  Appended rows
    sit in the delta zone, which stored queries read whole, until
    :func:`index_layout.compact_index` folds them into the cells; only a
    rebalance compacts here, so without one run ``compact_index``
    between stream runs (SCALE.md has the measured query cost)."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        spark = batch.sparkSession
        if append_ivf_index_exactly_once(
            batch, path, batch_id, run_id, id_col, vec_col
        ) and rebalance_imbalance is not None:
            stats = ivf_cell_stats(spark, path)
            if stats["imbalance"] > rebalance_imbalance:
                rebalance_ivf_index(
                    spark, path, id_col=id_col, vec_col=vec_col
                )

    return start_sink(
        new_embeddings, checkpoint, apply, "append", available_now
    )


def ivf_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """ANN top-k against a stored IVF index: per-query probe cells are
    computed driver-side from the stored centroids, and the corpus scan is
    filtered with ``cell IN (probed)`` — a PARTITION filter on the base,
    so non-probed cells never leave storage (the pruning `ivf_topk`'s
    docstring promises; asserted in
    tests/test_similarity.py::test_ivf_stored_index_matches_onthefly_and_prunes),
    and a row-group-stats filter on the delta zone.  Results are identical
    to the on-the-fly ``ivf_topk`` under the same centroids: both run
    :func:`_ivf_probe_topk`.  An index built from no vectors reads as
    zero rows of the query side's id and vector types."""
    row = ", ".join(
        f"`{c}` {queries.schema[c].dataType.simpleString()}"
        for c in (id_col, vec_col)
    )
    return _ivf_probe_topk(
        queries,
        _stored_centroids(spark, path),
        lambda cells: read_index(
            spark, path, F.col("cell").isin(cells), f"{row}, cell int"
        ).select(id_col, vec_col, "cell"),
        k, n_probe, id_col, vec_col, max_queries, "ivf_topk_stored",
    )


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): the compression tier under every large ANN
# deployment (FAISS ScalarQuantizer / vector-DB int8 storage).  Train a
# per-dimension uniform quantizer over the corpus (one agg pass to 'dim'
# rows), encode every vector as dim int8 codes (4x smaller than float32,
# 8x smaller than float64), and score candidates with an integer dot
# product — exact integer arithmetic, so unlike the float paths the
# scores are bit-identical across engines with no rounding contract.
# ---------------------------------------------------------------------------


def sq8_train_ranges(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Train the SQ8 quantizer: per-dimension [min, max] over the corpus,
    returned as ONE row holding two dim-length arrays (broadcastable).

    Scale shape: posexplode -> groupBy(dim) is a map-side partial
    aggregate collapsing to `dim` rows before the shuffle; the final
    collect_list runs over `dim` rows.  No driver collect — the ranges
    frame is crossJoin-broadcast into the encode pass."""
    dims = embeddings.select(F.posexplode(vec_col).alias("d", "x")).select(
        "d", F.col("x").cast("double").alias("x")
    )
    rng = dims.groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return rng.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mn"))), lambda s: s["mn"]
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mx"))), lambda s: s["mx"]
        ).alias("mxs"),
    )


def sq8_encode(
    embeddings: DataFrame,
    ranges: DataFrame,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors as int8-range codes under a trained quantizer:
    ``code_i = floor((x_i - mn_i) / (mx_i - mn_i) * 255) - 128``, in
    [-128, 127].  A constant dimension (mx == mn) encodes to 0.  All
    arithmetic is double ops + floor — deterministic and replayed exactly
    by the SQL oracle.  Emits (id, code array, SRP bucket) so the codes
    drop straight into the banded candidate join."""

    def one(i):
        x = F.element_at(F.col(vec_col), i).cast("double")
        mn = F.element_at(F.col("mns"), i)
        mx = F.element_at(F.col("mxs"), i)
        u8 = F.floor(((x - mn) / F.nullif(mx - mn, F.lit(0.0))) * 255)
        return (F.coalesce(u8, F.lit(128)) - 128).cast("long")

    return embeddings.join(F.broadcast(ranges)).select(
        F.col(id_col).alias("vec_id"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)), one).alias("code"),
        srp_bucket(F.col(vec_col), dim=dim).alias("bucket"),
    )


def sq8_dot(a: Column, b: Column) -> Column:
    """Integer dot product of two code arrays — the SQ8 asymmetric-distance
    analogue.  Pure BIGINT arithmetic: no FP rounding contract needed."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )



def sq8_rescore_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: SRP-bucket candidate generation + int8 quantized
    rescoring — the memory-bound production shape (float vectors never
    touch the scoring join; only 1-byte-per-dim codes shuffle).

    Stage 1 trains the quantizer (one agg pass), stage 2 encodes corpus
    and filters the query subset from the SAME encoded frame (one plan,
    Spark reuses the scan), stage 3 joins on the SRP bucket and ranks
    candidates by integer code dot.  Ranking ties break on neighbor id,
    so results are fully deterministic.  Recall vs exact cosine is the
    ANN contract (bounded in tests); the quantization error adds at most
    half a code step per dimension."""
    ranges = sq8_train_ranges(embeddings, vec_col)
    coded = sq8_encode(embeddings, ranges, dim, id_col, vec_col)
    q = coded.where(query_pred).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode"), "bucket"
    )
    scored = (
        coded.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sq8_dot(F.col("qcode"), F.col("code")).alias("q8_score"),
        )
    )
    return _top_k(scored, k, "q8_score")


def exact_rescore_topk(
    embeddings: DataFrame,
    query_pred: Column,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """The one exact-rescoring stage of the quantized ANN shapes: score
    each (query_id, neighbor_id) candidate pair with the exact
    unit-cosine fold and keep the per-query top-k.  The candidates are a
    quantized top-R — ``sq8_rescore_topk`` or ``pq_adc_topk`` at
    ``k=R`` — so the full production shape is three stages: SRP buckets,
    a quantized cut, exact folds on R rows per query.

    Why: the planted-corpus gates measured the quantized RANKING losing
    recall as candidate counts grow (SQ8: 0.38 of the 0.56 candidate
    ceiling at sf0.01, 0.24 at the sf1 replay — near-ties cross the code
    grid's resolution).  Rescoring the quantized top-R with exact vectors
    recovers the ceiling while touching the float vectors for R rows per
    query, never for the candidate set — the memory-bound win of the
    codes survives.  R must track per-bucket occupancy, not k.  Gated:
    ``similarity_recall_{sq8,pq}_rescored_planted_vs_exact``.  A true
    top-k neighbor outside the quantized top-R stays missed (that
    residual IS the measured recall gap).

    Plan shape: the (queries x R) candidate frame broadcasts INTO the
    corpus scan for the neighbor vectors (the corpus never shuffles),
    then the query vectors — a query-subset-sized frame — broadcast in
    turn."""
    cv = normalized(embeddings, id_col, vec_col, "neighbor_id", "cv")
    qv = normalized(
        embeddings.where(query_pred), id_col, vec_col, "query_id", "qv"
    )
    return _cosine_top_k(
        cv.join(F.broadcast(candidates), "neighbor_id").join(
            F.broadcast(qv), "query_id"
        ),
        k,
        dim,
    )


def sq8_codes_sql(
    vec: str = "embedding", dim: int = 64, table: str = "embeddings"
) -> str:
    """DuckDB twin of :func:`sq8_train_ranges` + :func:`sq8_encode`: a CTE
    body producing (vec_id, code, bucket) — same double arithmetic, same
    floor, same SRP bucket — for hash-exact oracle replay.  ``table``
    names the source relation (a view or upstream CTE)."""
    return f"""
    dims AS (
      SELECT generate_subscripts({vec}, 1) AS d, unnest({vec})::DOUBLE AS x
      FROM {table}),
    rng AS (SELECT d, min(x) AS mn, max(x) AS mx FROM dims GROUP BY d),
    ranges AS (
      SELECT list(mn ORDER BY d) AS mns, list(mx ORDER BY d) AS mxs FROM rng),
    codes AS (
      SELECT vec_id,
             list_transform(generate_series(1, {dim}),
               i -> coalesce(CAST(floor((({vec}[i]::DOUBLE - mns[i])
                     / nullif(mxs[i] - mns[i], 0e0)) * 255) AS BIGINT), 128)
                    - 128) AS code,
             {srp_bucket_sql(vec, dim=dim)} AS bucket
      FROM {table} CROSS JOIN ranges)"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): the third member of the FAISS-style ANN triad
# (IVF coarse partitioning / SQ8 scalar codes / PQ subspace codebooks).
# Vectors are split into M subspaces; each subspace gets a small codebook
# (deterministic lowest-id seeds + one integer-quantized Lloyd refinement —
# the clustering.py trick, so a SQL oracle replays training bit-for-bit);
# a vector is stored as M 1-byte codes (16x smaller than float32 at
# M=8, dim=64).  Queries score candidates with the asymmetric distance
# (ADC): sum over subspaces of ||q_m - codebook[m][code_m]||^2, each
# subspace term quantized to an integer BEFORE the cross-subspace sum so
# the only engine-order-sensitive step is order-free integer addition.
# ---------------------------------------------------------------------------

#: codebook mean quantization (1e-6 grid — same unit as clustering.py)
PQ_MEAN_QUANT = 1_000_000
#: per-subspace ADC distance quantization (1e-9 grid)
PQ_DIST_QUANT = 1_000_000_000


def pq_subvectors(
    embeddings: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Explode vectors into (vec_id, m, sub) subspace rows, m in 1..n_sub,
    each sub an array of ``sub_dim`` doubles (contiguous dim blocks).  A
    NULL vector gives no rows, so PQ training, encoding, the index build
    and append, and the queries all skip it: it is not indexed."""
    v = F.col(vec_col).cast("array<double>")
    return embeddings.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(n_sub)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(v, (m - 1) * sub_dim + 1, sub_dim).alias("sub"),
                ),
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub"))


def _pq_sqdist(a: Column, b: Column) -> Column:
    """Left-to-right squared-L2 fold (same element order as the oracle)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_assign(subv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Nearest codebook entry per (vector, subspace): argmin squared-L2
    with lowest-code ties, in one narrow ``mapInPandas`` pass.

    The (n_sub * k)-row codebook collects to the driver and rides the
    closure; per Arrow batch, squared distances accumulate with the same
    left-to-right dim fold the SQL oracle uses (never BLAS/pairwise),
    and ``np.argmin``'s first-min rule reproduces the lowest-code
    tie-break because each subspace's entries are ordered by code.  The
    cost is ~k * dim numpy ops per batch, with no join and no shuffle."""
    import numpy as np
    import pandas as pd

    cpd = codebooks.orderBy("m", "code").toPandas()
    by_m = {
        int(m): (
            g["code"].to_numpy(),
            np.stack(g["cu"].to_numpy()).astype(np.float64),
        )
        for m, g in cpd.groupby("m")
    }

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for m, g in pdf.groupby("m"):
                codes_arr, cm = by_m[int(m)]
                sm = np.stack(g["sub"].to_numpy()).astype(np.float64)
                acc = np.zeros((len(sm), len(cm)))
                for j in range(sm.shape[1]):
                    diff = sm[:, j : j + 1] - cm[:, j][None, :]
                    acc = acc + diff * diff
                best = np.argmin(acc, axis=1)
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": g["vec_id"].to_numpy(),
                            "m": int(m),
                            "code": codes_arr[best],
                            "sub": g["sub"],
                        }
                    )
                )
            yield pd.concat(out)

    id_type = subv.schema["vec_id"].dataType.simpleString()
    m_type = subv.schema["m"].dataType.simpleString()
    code_type = codebooks.schema["code"].dataType.simpleString()
    return subv.mapInPandas(
        gen,
        f"vec_id {id_type}, m {m_type}, code {code_type}, sub array<double>",
    )


def pq_train_codebooks(
    subv: DataFrame,
    k: int = 16,
    refine_iters: int = 1,
) -> DataFrame:
    """Train per-subspace codebooks: seed each subspace's k entries from
    the k lowest-id vectors' subvectors (the IVF/k-means convention),
    then run ``refine_iters`` Lloyd updates with integer-quantized exact
    means (order-free accumulation — the oracle replays training).
    Returns (m, code, cu).  A code that loses all members simply drops
    out; encoding argmins over the surviving entries."""
    wseed = Window.partitionBy("m").orderBy("vec_id")
    cb = (
        subv.withColumn("rn", F.row_number().over(wseed))
        .where(F.col("rn") <= k)
        .select("m", (F.col("rn") - 1).alias("code"), F.col("sub").alias("cu"))
    )
    for _ in range(refine_iters):
        assigned = _pq_assign(subv, cb).select("m", "code", "sub")
        qsum = assigned.select(
            "m", "code", F.posexplode("sub").alias("pos0", "x")
        ).groupBy("m", "code", "pos0").agg(
            F.sum(F.round(F.col("x") * PQ_MEAN_QUANT).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        cb = qsum.groupBy("m", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos0", "s", "n"))),
                lambda r: r["s"].cast("double") / (r["n"] * float(PQ_MEAN_QUANT)),
            ).alias("cu")
        )
    return cb


def pq_encode(subv: DataFrame, codebooks: DataFrame) -> DataFrame:
    """Encode every vector as (vec_id, m, code) rows — at rest this is
    n_sub bytes per vector (vs 4*dim for float32)."""
    return _pq_assign(subv, codebooks).select("vec_id", "m", "code")


def _pq_geometry(codebooks: DataFrame) -> tuple:
    """(n_sub, sub_dim, dim) derived from a codebook frame — the stored
    sidecar is the source of truth for index geometry, so maintenance
    and stored-query paths can never encode with mismatched defaults.
    A codebook trained on no vectors gives (0, 0, 0)."""
    row = codebooks.select(
        F.max("m").alias("n_sub"), F.max(F.size("cu")).alias("sub_dim")
    ).collect()[0]
    n_sub, sub_dim = int(row["n_sub"] or 0), int(row["sub_dim"] or 0)
    return n_sub, sub_dim, n_sub * sub_dim


def _pq_pack_codes(
    embeddings: DataFrame,
    cb: DataFrame,
    n_sub: int,
    sub_dim: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Encode under ``cb`` and pack to the at-rest row shape
    (vec_id, codes array ordered by subspace, SRP bucket) — the ONE
    definition of the stored layout, shared by the index build and the
    delta append so base and delta rows can never diverge."""
    subv = pq_subvectors(embeddings, n_sub, sub_dim, id_col, vec_col)
    codes = pq_encode(subv, cb).groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda r: r["code"],
        ).alias("codes")
    )
    bkt = embeddings.select(
        F.col(id_col).alias("vec_id"),
        srp_bucket(F.col(vec_col), dim=dim).alias("bucket"),
    )
    return codes.join(bkt, "vec_id")


def _pq_rank_adc(pairs: DataFrame, k: int) -> DataFrame:
    """Shared ADC tail over (query_id, neighbor_id, qsub, cu) rows, one
    per candidate subspace: each subspace's squared distance is
    quantized to an integer, summed order-free across subspaces, ranked
    ascending with lower-id ties, and emitted as the rounded double
    distance.  One definition — the on-the-fly and stored paths MUST
    rank identically or the catalog gate's hash-equality breaks."""
    adc = pairs.select(
        "query_id",
        "neighbor_id",
        F.round(_pq_sqdist(F.col("qsub"), F.col("cu")) * PQ_DIST_QUANT)
        .cast("long")
        .alias("dm"),
    ).groupBy("query_id", "neighbor_id").agg(F.sum("dm").alias("adc_nano"))
    return _top_k(adc, k, "adc_nano", asc=True).select(
        "query_id",
        "rank",
        "neighbor_id",
        F.round(F.col("adc_nano") / PQ_DIST_QUANT, 6).alias("adc_dist"),
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-stage ANN: SRP-bucket candidate generation + PQ asymmetric-
    distance rescoring.  Candidates carry only their n_sub codes; the
    per-(query, subspace, code) distance is computed ONCE per needed
    combination via the joins below (the classic ADC lookup-table shape:
    at most |queries| * n_sub * n_codes distinct distance cells, however
    many candidates there are), and the cross-subspace sum is order-free
    integer addition on the 1e-9-quantized subspace terms.

    Output ranks ascending by ADC distance (smaller = closer), ties to
    the lower neighbor id; ``adc_dist`` is the rounded double distance."""
    from label_maker_dask_spark.operators.materialize import materialize

    subv = pq_subvectors(embeddings, n_sub, sub_dim, id_col, vec_col)
    # the (n_sub * k)-row codebook feeds THREE plan branches (encode's
    # argmin and the ADC scoring join) downstream of two training passes
    # — materialize it once so training isn't re-executed per consumer
    cb = materialize(pq_train_codebooks(subv, k=n_codes))
    codes = pq_encode(subv, cb)
    bkt = embeddings.select(
        F.col(id_col).alias("vec_id"),
        srp_bucket(F.col(vec_col), dim=dim).alias("bucket"),
    )
    qids = bkt.where(query_pred).select(F.col("vec_id").alias("query_id"))
    qsub = subv.join(
        qids, subv["vec_id"] == qids["query_id"]
    ).select("query_id", "m", F.col("sub").alias("qsub"))
    qbkt = bkt.join(qids, bkt["vec_id"] == qids["query_id"]).select(
        "query_id", "bucket"
    )
    cand = (
        bkt.join(F.broadcast(qbkt), "bucket")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    pairs = (
        cand.join(codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(cb), ["m", "code"])
        .join(F.broadcast(qsub), ["query_id", "m"])
    )
    return _pq_rank_adc(pairs, k)


def _pq_sqdist_sql(sub_dim: int, a: str, b: str) -> str:
    """DuckDB twin of :func:`_pq_sqdist` over two ``sub_dim`` lists."""
    return (
        f"list_reduce(list_transform(generate_series(1, {sub_dim}), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])), (x,y) -> x + y)"
    )


def _pq_train_ctes_sql(
    n_sub: int,
    sub_dim: int,
    n_codes: int,
    dim: int,
    corpus_pred: str,
    train_pred: str,
    table: str = "embeddings",
) -> str:
    """The shared DuckDB CTE prefix replaying PQ training + encoding +
    SRP bucketing (``subv``/``cb1``/``codes``/``bkt``) — used by the ADC
    query oracle and the index-build stats oracle so the two can never
    drift.  ``table`` names the source relation (a view or upstream
    CTE, e.g. the planted-cluster corpus of the recall gates).  NULL
    vectors are not indexed, as in :func:`pq_subvectors`."""
    return f"""subv AS (
      SELECT vec_id, m, v[(m-1)*{sub_dim}+1 : m*{sub_dim}] AS sub
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {table}
            WHERE embedding IS NOT NULL AND ({corpus_pred}))
      CROSS JOIN (SELECT unnest(generate_series(1, {n_sub})) AS m)),
    tsub AS (SELECT * FROM subv WHERE {train_pred}),
    init AS (
      SELECT m, rn - 1 AS code, sub AS cu FROM (
        SELECT m, sub, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
        FROM tsub) WHERE rn <= {n_codes}),
    a0 AS (
      SELECT vec_id, m, code, sub FROM (
        SELECT s.vec_id, s.m, i.code, s.sub,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {_pq_sqdist_sql(sub_dim, 's.sub', 'i.cu')} ASC, i.code ASC) AS rn
        FROM tsub s JOIN init i USING (m)) WHERE rn = 1),
    qsum AS (
      SELECT m, code, pos,
             sum(CAST(round(sub[pos] * {PQ_MEAN_QUANT}) AS BIGINT)) AS s,
             count(*) AS n
      FROM (SELECT m, code, sub, unnest(generate_series(1, {sub_dim})) AS pos
            FROM a0)
      GROUP BY m, code, pos),
    cb1 AS (
      SELECT m, code,
             list(CAST(s AS DOUBLE) / (n * {PQ_MEAN_QUANT}.0) ORDER BY pos)
               AS cu
      FROM qsum GROUP BY m, code),
    codes AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {_pq_sqdist_sql(sub_dim, 's.sub', 'c.cu')} ASC, c.code ASC) AS rn
        FROM subv s JOIN cb1 c USING (m)) WHERE rn = 1),
    bkt AS (SELECT vec_id, {srp_bucket_sql('embedding', dim=dim)} AS bucket
            FROM {table} WHERE embedding IS NOT NULL AND ({corpus_pred}))"""


def pq_adc_oracle_sql(
    filter_pred: str,
    k: int = 5,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    corpus_pred: str = "TRUE",
    train_pred: str = "TRUE",
    table: str = "embeddings",
) -> str:
    """DuckDB twin of :func:`pq_adc_topk` — unrolls seed init, one Lloyd
    refinement with the same integer-quantized means, encoding, the SRP
    candidate join, and the integer-quantized ADC sum.  ``corpus_pred``
    restricts the indexed corpus; ``train_pred`` restricts which corpus
    rows TRAIN the codebooks (the incremental-maintenance contract:
    appended vectors encode under codebooks they never trained);
    ``table`` names the source relation."""
    ctes = _pq_train_ctes_sql(
        n_sub, sub_dim, n_codes, dim, corpus_pred, train_pred, table
    )
    return f"""
    WITH {ctes},
    cand AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
      FROM bkt q JOIN bkt c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
      WHERE q.{filter_pred}),
    pairm AS (
      SELECT cand.query_id, cand.neighbor_id,
             CAST(round({_pq_sqdist_sql(sub_dim, 'qs.sub', 'cb.cu')}
                  * {PQ_DIST_QUANT}) AS BIGINT) AS dm
      FROM cand
      JOIN codes co ON co.vec_id = cand.neighbor_id
      JOIN cb1 cb ON cb.m = co.m AND cb.code = co.code
      JOIN subv qs ON qs.vec_id = cand.query_id AND qs.m = co.m),
    adc AS (
      SELECT query_id, neighbor_id, sum(dm)::BIGINT AS adc_nano
      FROM pairm GROUP BY query_id, neighbor_id)
    SELECT query_id, rank, neighbor_id,
           round(adc_nano / {PQ_DIST_QUANT}.0, 6) AS adc_dist
    FROM (
      SELECT query_id, neighbor_id, adc_nano,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_nano ASC, neighbor_id ASC) AS rank
      FROM adc) WHERE rank <= {k}
    """


def pq_index_stats_oracle_sql(
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> str:
    """DuckDB twin of the stored index's per-bucket content: vector
    count plus two code checksums per SRP bucket.  Replays the SAME
    training/encode/bucket CTEs as the ADC oracle, so a green row proves
    the bytes :func:`write_pq_index` persisted (codes AND bucket
    assignment) — the training+write phase gated separately from the
    read phase."""
    ctes = _pq_train_ctes_sql(n_sub, sub_dim, n_codes, dim, "TRUE", "TRUE")
    return f"""
    WITH {ctes}
    SELECT CAST(bucket AS INT) AS bucket,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vectors,
           CAST(sum(code) AS BIGINT) AS code_sum,
           CAST(sum(m * code) AS BIGINT) AS code_wsum
    FROM codes JOIN bkt USING (vec_id)
    GROUP BY bucket
    """


def write_pq_index(
    embeddings: DataFrame,
    path: str,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the PQ index: the trained per-subspace codebooks as a
    (n_sub * n_codes)-row sidecar (``<path>/codebook``) and each vector's
    n_sub codes + SRP bucket, partitioned by bucket (``<path>/data``).
    At rest a vector is one small int array — 16x below float32 at the
    defaults — and the bucket partitioning gives stored queries the same
    partition-pruned scan as the IVF index's cells."""
    subv = pq_subvectors(embeddings, n_sub, sub_dim, id_col, vec_col)
    spark = embeddings.sparkSession
    pq_train_codebooks(subv, k=n_codes).write.mode("overwrite").parquet(
        path + "/codebook"
    )
    # encode against the WRITTEN codebook: re-reading the 128-row sidecar
    # truncates the two-pass training lineage, so the encode+write pass
    # doesn't re-run training (measured: write 7.0s -> ~3s at sf0.1)
    cb = spark.read.parquet(path + "/codebook")
    write_base(
        _pq_pack_codes(embeddings, cb, n_sub, sub_dim, dim, id_col, vec_col)
        # cluster rows by bucket before the dynamic-partition write: each
        # bucket directory is then written by exactly one task (one file,
        # no cross-task handle fanout)
        .repartition(F.col("bucket")),
        path,
        "bucket",
    )


#: the stored PQ row, which an index built from no vectors reads as
_PQ_ROW = "vec_id long, codes array<int>, bucket int"


def _pq_queries(spark, path: str, queries: DataFrame, id_col: str, vec_col: str):
    """(codebook, query subvectors, query buckets) for a stored PQ
    query, under the geometry of the stored codebook sidecar."""
    cb = spark.read.parquet(path + "/codebook")
    n_sub, sub_dim, dim = _pq_geometry(cb)
    qsub = pq_subvectors(queries, n_sub, sub_dim, id_col, vec_col).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sub").alias("qsub")
    )
    qbkt = queries.select(
        F.col(id_col).alias("query_id"),
        srp_bucket(F.col(vec_col), dim=dim).alias("bucket"),
    )
    return cb, qsub, qbkt


def _pq_adc_pairs(cand: DataFrame, cb: DataFrame, qsub: DataFrame, k: int) -> DataFrame:
    """The stored ADC body: candidate (query_id, vec_id, codes) rows
    explode to one row per subspace code, meet their codebook entry
    (broadcast: n_sub * n_codes rows) and the query subvector, and rank
    by :func:`_pq_rank_adc`.  The caller passes ``qsub`` broadcast or
    not, as its query set is small or corpus-sized."""
    pairs = (
        cand.where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode("codes").alias("m0", "code"),
        )
        .withColumn("m", F.col("m0") + 1)
        .join(F.broadcast(cb), ["m", "code"])
        .join(qsub, ["query_id", "m"])
    )
    return _pq_rank_adc(pairs, k)


def pq_adc_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against a stored PQ index: query buckets are computed on
    the (small) query side and the code scan is filtered with ``bucket IN
    (query buckets)`` — a partition filter on the base, so non-probed
    buckets never leave storage and what DOES stream is n_sub-byte
    codes, not vectors; the delta zone is pruned by row-group stats.
    Index geometry (n_sub, sub_dim, dim) is derived from the stored
    codebook sidecar, never assumed.  Results are identical to the
    on-the-fly :func:`pq_adc_topk` given the same corpus (same
    codebooks, same folds, same integer ADC); an index built from no
    vectors answers no rows."""
    cb, qsub, qbkt = _pq_queries(spark, path, queries, id_col, vec_col)
    q_buckets = sorted(
        r["bucket"] for r in qbkt.select("bucket").distinct().collect()
    )
    codes = read_index(spark, path, F.col("bucket").isin(q_buckets), _PQ_ROW)
    return _pq_adc_pairs(
        codes.join(F.broadcast(qbkt), "bucket"), cb, F.broadcast(qsub), k
    )


def pq_adc_topk_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Stored-PQ ANN where BOTH sides are corpus-sized — the k-NN-graph
    shape (:func:`ivf_topk_join`'s PQ twin).  :func:`pq_adc_topk_stored`
    collects the distinct query buckets and broadcasts the query frame —
    right for probe workloads, wrong when the query set IS the corpus.
    Here nothing reaches the driver: query buckets/subvectors stay
    distributed, candidates come from a plain shuffle join on the bucket
    id, and the per-(query, subspace) ADC term joins the (corpus-sized)
    query subvector frame on its shuffle key.  The tiny codebook sidecar
    is still broadcast.  Same codes, same integer ADC fold, same
    ranking — results are bit-identical to the broadcast form over the
    same index (shared oracle).

    100 TB posture: with corpus-sized queries every bucket is probed, so
    the full-index scan is the workload, not a missed pruning; the join
    shuffles per-bucket candidate volume (sum of squares over bucket
    occupancy — profile with ``profile_srp_bucket_skew``, route hot
    buckets via the adversarial dedup gate)."""
    cb, qsub, qbkt = _pq_queries(spark, path, queries, id_col, vec_col)
    codes = read_index(spark, path, schema=_PQ_ROW)
    return _pq_adc_pairs(codes.join(qbkt, "bucket"), cb, qsub, k)


def append_pq_index(
    new_embeddings: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to a stored PQ index WITHOUT retraining:
    new rows are encoded under the index's *existing* codebooks (the
    sidecar is read, never recomputed — the PQ analogue of IVF's frozen
    coarse quantizer) and land in the index's delta zone
    (:func:`index_layout.append_delta`, sorted by bucket), which stored
    reads union with the partition-pruned base and
    :func:`index_layout.compact_index` folds into the bucket partitions.

    Queries against the appended index equal queries against the union
    encoded under the same codebooks, because encoding and ADC depend
    only on the codebooks — which this operation never changes.
    Codebook drift under a shifting corpus is handled by a REBUILD
    (write_pq_index on the union), the same policy trade as IVF's
    rebalance.  Geometry (n_sub, sub_dim, dim) comes from the stored
    sidecar — an index built with non-default geometry appends
    correctly without the caller restating it."""
    spark = new_embeddings.sparkSession
    cb = spark.read.parquet(path + "/codebook")
    n_sub, sub_dim, dim = _pq_geometry(cb)
    append_delta(
        _pq_pack_codes(new_embeddings, cb, n_sub, sub_dim, dim, id_col, vec_col),
        path,
        "bucket",
    )


def append_pq_index_exactly_once(
    new_embeddings: DataFrame,
    path: str,
    batch_id: int,
    run_id=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> bool:
    """:func:`append_pq_index` under the shared replay-safety bracket
    (:func:`index_layout.append_delta_exactly_once`)."""
    return append_delta_exactly_once(
        path,
        batch_id,
        run_id,
        lambda: append_pq_index(
            new_embeddings, path, id_col=id_col, vec_col=vec_col
        ),
        "pq",
    )


def stream_embeddings_to_pq_index(
    new_embeddings: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = True,
):
    """Continuously grow a stored PQ index from an embedding stream: each
    micro-batch encodes under the frozen codebooks and appends
    exactly-once (:func:`append_pq_index_exactly_once`) — the PQ half of
    the index-maintenance loop (the IVF twin adds drift-triggered
    rebalance; PQ drift policy is rebuild, see :func:`append_pq_index`)."""

    def apply(batch: DataFrame, batch_id: int, run_id: str) -> None:
        append_pq_index_exactly_once(
            batch, path, batch_id, run_id, id_col, vec_col
        )

    return start_sink(
        new_embeddings, checkpoint, apply, "append", available_now
    )
