"""Perceptual image hashing (pHash family): a 63-bit DCT sign hash over
8x8 grayscale pixels, computed in one vectorized Arrow pass, with a
DuckDB SQL twin generated from the same coefficient table.

The classic pHash recipe (public: Zauner, "Implementation and
benchmarking of perceptual image hash functions"): transform the image
to frequency space with a DCT, keep the low-frequency block, and set one
bit per coefficient by comparing against a central tendency — visually
near-identical images (recompression, slight crops/noise) flip few bits,
so near-duplicate detection is a hamming-ball search, which
``operators.dedup.banded_hamming_pairs`` answers with pigeonhole-exact
recall.

This implementation hashes an 8x8 grayscale image directly (64 pixels →
8x8 DCT-II → the 63 AC coefficients, each compared to their mean): small
enough that numpy and DuckDB evaluate the identical arithmetic — the DCT
is two separable passes of literal-coefficient multiply-adds written in a
fixed order, so every float operation is IEEE-identical cross-engine and
the catalog oracle hash-matches the signatures bit for bit.  For real
imagery, decode + resize to 8x8 gray first (``multimodal.images``
pipeline); the hash stage is the same.

63 bits (not 64): the DC coefficient carries only global brightness and
is excluded by the recipe anyway — and 63 bits keeps the signature clear
of a LONG's sign bit, which band extraction relies on.
"""

from __future__ import annotations

import math
from typing import List

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

#: Orthonormal 8-point DCT-II coefficients as plain Python floats — the
#: SINGLE source for both the numpy pass and the SQL twin, so the two
#: engines multiply by bit-identical literals.
DCT8: List[List[float]] = [
    [
        (1.0 / math.sqrt(2.0) if k == 0 else 1.0)
        * 0.5
        * math.cos((2.0 * n + 1.0) * k * math.pi / 16.0)
        for n in range(8)
    ]
    for k in range(8)
]

#: AC coefficients in fixed (u, v) row-major order, DC excluded — bit j of
#: the hash corresponds to AC_ORDER[j].
AC_ORDER = [(u, v) for u in range(8) for v in range(8) if (u, v) != (0, 0)]


def gray8_pixels(vec: Column) -> Column:
    """64 floats in [-1, 1] → 64 grayscale pixel ints (the deterministic
    quantization the multimodal fixtures use: floor(clamp((x+1)·127.5)))."""
    return F.transform(
        vec,
        lambda x: F.floor(
            F.greatest(
                F.lit(0.0),
                F.least(F.lit(255.0), (x.cast("double") + F.lit(1.0)) * F.lit(127.5)),
            )
        ).cast("long"),
    )


def gray8_pixels_sql(vec_sql: str) -> str:
    return (
        f"list_transform({vec_sql}, x -> CAST(floor(greatest(0.0, "
        "least(255.0, (x::DOUBLE + 1.0) * 127.5))) AS BIGINT))"
    )


def phash63_columns(
    df: DataFrame, px_col: str, out_col: str = "phash"
) -> DataFrame:
    """Append ``out_col``: the 63-bit pHash of the 8x8 row-major pixel
    array in ``px_col``.  As in the SQL twin, a NULL array or one
    shorter than 64 hashes to 0, and pixels past the 64th are unread.

    One ``mapInPandas`` pass, vectorized across each Arrow batch: a row
    DCT pass, a column DCT pass, then the mean and the sign bits, every
    sum a fixed left-to-right chain of literal multiply-adds — the order
    :func:`phash63_sql` writes term for term, so the hashes are
    bit-identical (tested, and gated by the catalog oracles)."""
    import numpy as np

    schema = StructType(df.schema.fields + [StructField(out_col, LongType())])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # a NULL or short array reads as all-zero pixels: every AC
            # coefficient is 0, none exceeds the mean, so it hashes to 0.
            # In SQL a missing pixel reads as NULL, which NULLs every
            # coefficient and so every bit; both read only p[1..64].
            P = np.zeros((len(pdf), 64))
            for i, px in enumerate(pdf[px_col]):
                if px is not None and len(px) >= 64:
                    P[i] = px[:64]
            # pass 1: r[:, x, v] = sum_y M[v][y] * p[x*8 + y], left-folded
            # over y exactly as the SQL chain (((m0*p0) + m1*p1) + ...)
            r = np.empty((len(P), 8, 8))
            for x in range(8):
                for v in range(8):
                    acc = DCT8[v][0] * P[:, x * 8]
                    for y in range(1, 8):
                        acc = acc + DCT8[v][y] * P[:, x * 8 + y]
                    r[:, x, v] = acc
            # pass 2: c[u][v] = sum_x M[u][x] * r[x][v]
            c = {}
            for u, v in AC_ORDER:
                acc = DCT8[u][0] * r[:, 0, v]
                for x in range(1, 8):
                    acc = acc + DCT8[u][x] * r[:, x, v]
                c[(u, v)] = acc
            mu = c[AC_ORDER[0]]
            for k in AC_ORDER[1:]:
                mu = mu + c[k]
            mu = mu / 63.0
            sig = np.zeros(len(P), dtype=np.int64)
            for j, k in enumerate(AC_ORDER):
                sig |= (c[k] > mu).astype(np.int64) << j
            out = pdf.copy()
            out[out_col] = sig
            yield out

    return df.mapInPandas(gen, schema)


def phash63_sql(id_sql: str, px_sql: str, table: str) -> str:
    """The SQL twin: same literals, same summation order, same bit
    layout — one CTE per DCT pass, in the order :func:`phash63_columns`
    folds."""
    r_terms = []
    for x in range(8):
        for v in range(8):
            e = " + ".join(
                f"{DCT8[v][y]!r} * p[{x * 8 + y + 1}]" for y in range(8)
            )
            # left-assoc chain matches the numpy fold exactly
            r_terms.append(f"({e}) AS r_{x}_{v}")
    c_terms = []
    for u, v in AC_ORDER:
        e = " + ".join(f"{DCT8[u][x]!r} * r_{x}_{v}" for x in range(8))
        c_terms.append(f"({e}) AS c_{u}_{v}")
    mu = " + ".join(f"c_{u}_{v}" for (u, v) in AC_ORDER)
    bits = " + ".join(
        f"(CASE WHEN c_{u}_{v} > mu THEN {1 << j} ELSE 0 END)"
        for j, (u, v) in enumerate(AC_ORDER)
    )
    return f"""
    px AS (SELECT {id_sql} AS pid, {px_sql} AS p FROM {table}),
    rpass AS (SELECT pid, {", ".join(r_terms)} FROM px),
    cpass AS (SELECT pid, {", ".join(c_terms)} FROM rpass),
    mpass AS (SELECT *, ({mu}) / 63.0 AS mu FROM cpass),
    sig AS (SELECT pid, CAST({bits} AS BIGINT) AS phash FROM mpass)
    """


__all__ = ["DCT8", "AC_ORDER", "gray8_pixels", "gray8_pixels_sql",
           "phash63_columns", "phash63_sql"]
