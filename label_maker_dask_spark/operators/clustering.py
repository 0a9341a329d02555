"""Distributed spherical k-means — semantic clustering for dataset curation.

SemDeDup-style curation (prune near-duplicate *meaning*, not just near-
duplicate text) needs embeddings clustered so that pruning/sampling can act
per cluster.  This operator is Lloyd's algorithm on the unit sphere
(cosine k-means), engineered so a DuckDB oracle can replay it
bit-for-bit:

- **Deterministic init**: centroids seed from the ``k`` lowest-id vectors
  (the same convention as the IVF coarse quantizer,
  ``similarity.py:372``), not from random sampling.
- **Sequential float folds**: every dot product and norm is a
  left-to-right fold (``F.aggregate`` for norms, ``_dots_exact`` in the
  assignment pass), the exact order DuckDB's ``list_reduce`` uses —
  never a BLAS/pairwise summation whose grouping differs by backend.
- **Exact mean accumulation**: the only place partial-aggregation merge
  order could leak float noise is the per-cluster mean.  Components are
  quantized to integers (``round(x * quant)`` as BIGINT) and summed
  exactly — integer addition is order-free — then divided back once.
  Quantization error only nudges centroids (every engine/partitioning
  nudges them identically); assignments stay exact replicas.

Scale shape per iteration: the k centroid rows (k*d doubles, the
classic distributed-k-means driver state) collect to the driver, and
assignment is one narrow ``mapInPandas`` pass over the working set —
numpy dots per Arrow batch, no shuffle, no join; then a (cluster, dim)
integer-sum shuffle of k*d rows post-combine recomputes the means.  The
normalized working set is persisted once (``persist=True`` default) so
the seed scan and every Lloyd pass read the cache instead of
re-deriving unit vectors from the source — the standard
iterative-algorithm working-set cache.  Pass ``persist=False`` to skip
the materialization (e.g. when the caller already cached upstream or
will never materialize twice).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from label_maker_dask_spark.operators.materialize import materialize


def _unit(df: DataFrame, vec_col: str, out_col: str) -> DataFrame:
    """Append ``out_col``: the L2-normalized double copy of ``vec_col``.

    Two-step (norm column, then scale) so codegen computes the fold once
    per row, not once per element.  Vectors must be nonzero."""
    v = F.col(vec_col).cast("array<double>")
    df = df.withColumn(
        "_nrm", F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    )
    return df.withColumn(
        out_col, F.transform(v, lambda x: x / F.col("_nrm"))
    ).drop("_nrm")


def _recompute(assigned: DataFrame, quant: int) -> DataFrame:
    """Exact per-cluster means via integer quantization, re-normalized to
    unit centroids.  Empty clusters simply vanish (no rows, no group) —
    identically in the oracle."""
    ex = assigned.select(
        F.col("cluster").alias("cell"), F.posexplode("u").alias("pos", "val")
    )
    q = ex.withColumn("q", F.round(F.col("val") * quant, 0).cast("long"))
    sums = q.groupBy("cell", "pos").agg(
        F.sum("q").alias("s"), F.count(F.lit(1)).alias("n")
    )
    m = sums.withColumn("m", F.col("s") / (F.col("n") * float(quant)))
    vecs = m.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
    )
    vecs = vecs.withColumn("cv", F.transform(F.col("pm"), lambda s: s["m"]))
    return _unit(vecs, "cv", "cu").select("cell", "cu")


def _rows(col, width: int):
    """``(matrix, live)``: an array column as float64 rows of ``width``
    (a NULL array is a zero row) and the mask of its non-NULL rows."""
    import numpy as np

    live = col.notna().to_numpy()
    m = np.zeros((len(col), width))
    if width and live.any():
        m[live] = np.stack(col[live].to_numpy())
    return m, live


def _assign(unitv: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest-centroid (max cosine) assignment; ties break to the lowest
    cell id.

    Centroids (k rows) collect to the driver and ride the closure; per
    Arrow batch, dots accumulate with the same left-to-right dim fold the
    SQL oracle uses (``_dots_exact``, never BLAS), and ``np.argmax``'s
    first-max rule reproduces the lowest-cell tie-break because
    centroids are ordered by cell.  No centroids (empty input) assign no
    rows."""
    import numpy as np
    import pandas as pd

    from label_maker_dask_spark.operators.similarity import _dots_exact

    cpd = cents.orderBy("cell").toPandas()
    cell_ids = cpd["cell"].to_numpy()
    width = max((len(c) for c in cpd["cu"] if c is not None), default=0)
    cm, c_live = _rows(cpd["cu"], width)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cell_ids) == 0:
                continue
            um, u_live = _rows(pdf["u"], width)
            dots = _dots_exact(um, cm)
            # a NULL vector or centroid has a NULL dot, which never wins
            # (the oracle orders NULL dots last); a row with no other dot
            # goes to the lowest cell with a NULL dot
            dots[~(u_live[:, None] & c_live[None, :])] = np.nan
            best = np.argmax(np.where(np.isnan(dots), -np.inf, dots), axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "cluster": cell_ids[best].astype(np.int32),
                    "dot": dots[np.arange(len(um)), best],
                    "u": pdf["u"],
                }
            )

    schema = StructType(
        [
            unitv.schema[id_col],
            StructField("cluster", IntegerType()),
            StructField("dot", DoubleType()),
            StructField("u", ArrayType(DoubleType())),
        ]
    )
    return unitv.mapInPandas(assign, schema)


def spherical_kmeans(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1_000_000,
    persist: bool = True,
) -> DataFrame:
    """Cluster embeddings on the unit sphere; returns one row per vector:
    (``id_col``, ``cluster`` int, ``sim`` double = round(cosine-to-
    centroid, 6)).

    ``iters`` counts Lloyd refinements: 0 = plain seed-centroid
    assignment (the IVF coarse quantizer), each further iteration is
    recompute-means -> reassign.  Deterministic under any partitioning —
    see the module docstring for the replay contract.

    Each assignment collects its k centroid rows (k*d doubles) to the
    driver while the plan is built, so this call runs ``iters + 1`` small
    Spark jobs (the seeds, then each refinement's means); the returned
    frame is one narrow Arrow pass over the working set.  ``k < 1``
    raises ``ValueError`` before any job runs; empty input gives no rows;
    a NULL vector joins the lowest cell with a NULL ``sim``, as in the
    oracle.

    ``persist`` materializes the normalized working set via a lazy
    ``localCheckpoint`` (module docstring) — values are identical either
    way; it only changes how many times the source is scanned.  A
    checkpoint rather than ``persist()``: the returned (lazy) result
    still reads the blocks, and checkpoint blocks are released when the
    frame is garbage-collected, while a bare persist pins them in the
    cache manager for the session's lifetime."""
    if k < 1:
        raise ValueError(f"spherical_kmeans needs k >= 1 centroids (got k={k})")
    unitv = _unit(embeddings.select(id_col, vec_col), vec_col, "u").select(
        id_col, "u"
    )
    if persist:
        # Default localCheckpoint is NOT executor-loss tolerant on a real
        # cluster — see operators/materialize.py for the fault-tolerance
        # trade-off and the mode knob (persist / reliable checkpoint).
        unitv = materialize(unitv, eager=False)
    w = Window.orderBy(id_col)
    cents = (
        unitv.orderBy(id_col)
        .limit(k)
        .select((F.row_number().over(w) - 1).alias("cell"), F.col("u").alias("cu"))
    )
    assigned = _assign(unitv, cents, id_col)
    for _ in range(iters):
        cents = _recompute(assigned, quant)
        assigned = _assign(unitv, cents, id_col)
    return assigned.select(
        id_col,
        "cluster",
        F.round(F.col("dot"), 6).alias("sim"),
    )


__all__ = ["spherical_kmeans"]
