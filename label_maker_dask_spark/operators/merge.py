"""CDC merge / upsert (SCD type 1) as a composition of built-in DataFrame ops.

The reference pipeline is append-only (results gathered once,
``main.py:109-111``); a production training-data store needs the other half
— applying a change stream (updates + inserts + deletes) onto a base table.
Without a transactional table format in this environment, the merge is
expressed as the union of its two match classes:

- **matched path**: ``target LEFT JOIN source`` — with the change batch
  broadcast this is a BroadcastHashJoin, so the base table is never
  shuffled.  (A FULL OUTER formulation would look simpler but Spark cannot
  broadcast any side of a full-outer equi-join — it silently degrades to a
  sort-merge join that shuffles the full-width base table.)
- **insert path**: ``source LEFT ANTI JOIN target.select(keys)`` — only the
  *key column* of the base table feeds this join, so even its shuffle (when
  the optimizer picks SMJ) carries keys, not rows.

Semantics (deterministic, order-free):
- key in both      -> update (source column wins on ``update_cols``)
- key only in src  -> insert (non-source target columns become NULL)
- key only in tgt  -> carried through unchanged
- matched + ``delete_col`` true -> dropped (as is a delete of a missing key)
Duplicate keys on the source side are rejected up front — SQL MERGE raises
on multi-row matches, and silently joining them would fan out the target.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: numeric widening lattice rank (byte < short < int < long)
_INT_RANK = {T.ByteType: 1, T.ShortType: 2, T.IntegerType: 3, T.LongType: 4}
#: decimal digits needed to hold each integer type exactly
_INT_DIGITS = {1: 3, 2: 5, 3: 10, 4: 19}


def _is_widening(src: T.DataType, dst: T.DataType) -> bool:
    """Whether casting ``src`` -> ``dst`` is LOSSLESS for every value —
    the only type changes ``evolve_schema`` applies (the Delta/Iceberg
    type-widening contract).  Integer up-casts along the rank lattice;
    float->double; integer->float/double only when the mantissa covers
    the full integer range (so int->float and long->double, both lossy
    past 2^24 / 2^53, are NOT widening); decimal scale/precision bumps
    that keep both the integer and fractional digit budgets; and
    integer->decimal with enough integer digits."""
    sc, dc = type(src), type(dst)
    if sc in _INT_RANK and dc in _INT_RANK:
        return _INT_RANK[sc] < _INT_RANK[dc]
    if sc is T.FloatType and dc is T.DoubleType:
        return True
    if sc in _INT_RANK and dc in (T.FloatType, T.DoubleType):
        bits = {1: 8, 2: 16, 3: 32, 4: 64}[_INT_RANK[sc]]
        mantissa = 24 if dc is T.FloatType else 53
        return bits - 1 <= mantissa
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return (
            dst.scale >= src.scale
            and dst.precision - dst.scale >= src.precision - src.scale
        )
    if sc in _INT_RANK and isinstance(dst, T.DecimalType):
        return dst.precision - dst.scale >= _INT_DIGITS[_INT_RANK[sc]]
    return False


def _same_ignoring_nullability(a: T.DataType, b: T.DataType) -> bool:
    """Structural type equality that ignores nullability at every level
    (array containsNull, struct field nullable, map valueContainsNull).
    A nullability-only difference is not a type drift: Spark's union and
    when/otherwise coerce it losslessly, and a source column built via
    F.array(F.lit(...)) (containsNull=false) must keep merging into a
    parquet-read target (containsNull=true) as it always did."""
    if type(a) is not type(b):
        return False
    if isinstance(a, T.ArrayType):
        return _same_ignoring_nullability(a.elementType, b.elementType)
    if isinstance(a, T.MapType):
        return _same_ignoring_nullability(
            a.keyType, b.keyType
        ) and _same_ignoring_nullability(a.valueType, b.valueType)
    if isinstance(a, T.StructType):
        return len(a.fields) == len(b.fields) and all(
            fa.name == fb.name
            and _same_ignoring_nullability(fa.dataType, fb.dataType)
            for fa, fb in zip(a.fields, b.fields)
        )
    return a == b


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    broadcast_source: bool = False,
    action_col: Optional[str] = None,
    assume_unique_source: bool = False,
    evolve_schema: bool = False,
    coerce_narrow_source: bool = True,
) -> DataFrame:
    """Apply ``source`` onto ``target`` by ``keys``; returns the merged table.

    ``update_cols`` defaults to every non-key column the two frames share.
    ``delete_col`` names a boolean column on the source marking deletions.
    ``broadcast_source`` hints the typical CDC shape (small change batch vs
    huge base): the matched path becomes a broadcast join and the target
    never shuffles.  ``action_col`` (optional) appends
    'update'/'insert'/'keep' for audit sinks; deleted rows are filtered
    out either way.

    ``assume_unique_source`` skips the eager duplicate-key guard (an extra
    Spark job over the source before the merge plan runs).  Pass it when
    key-uniqueness is already guaranteed upstream — e.g. after
    ``streaming.upsert.compact_last_per_key``, which otherwise pays the
    guard scan on every micro-batch.  With duplicates actually present the
    matched path would fan out the target, so only set it when the
    guarantee is structural, not hoped-for.

    ``evolve_schema`` enables schema evolution, two forms:

    - ADDITIVE: source columns absent from the target (the upstream
      producer added a field) widen the target with typed NULLs before
      the merge, so matched rows take the new values and pre-evolution
      rows read NULL — the Delta-style ``mergeSchema`` contract.
    - TYPE WIDENING: a shared column whose source type is a LOSSLESS
      up-cast of the target's (int->bigint, float->double, a decimal
      precision/scale bump — :func:`_is_widening`) up-casts the stored
      column.  A lossy or incompatible change (long->int, string->int,
      int->float) raises naming the column.

    Off by default.  WITHOUT the flag, a mismatch that would require
    rewriting the STORED schema (a wider or incompatible source type)
    raises — a malformed change feed changing a column's type must be
    loud.  The narrower direction (an old producer still emitting int
    into an already-long stored column) is applied unconditionally: the
    source-side up-cast is lossless, never touches the stored schema,
    and matches the implicit numeric coercion every SQL MERGE performs.
    Callers for whom a narrow-type drift (a feed whose column type
    regressed long->int) must stay LOUD rather than be losslessly
    coerced pass ``coerce_narrow_source=False``: the mismatch then
    raises exactly like any other type drift without ``evolve_schema``.

    100 TB posture: module docstring — broadcast left-join for matches,
    keys-only anti-join for inserts, nothing collected but the (small,
    by MERGE contract) source's duplicate-key guard — and that guard is
    skippable where uniqueness is structural.
    """
    # case-INSENSITIVE matching throughout: Spark's default resolution is
    # case-insensitive, so a source 'note' next to a target 'Note' is
    # the SAME column — treating it as new would withColumn-REPLACE
    # the existing data with typed NULLs (silent data loss)
    meta = {delete_col.lower()} if delete_col else set()
    tgt_by_lower = {f.name.lower(): f for f in target.schema.fields}
    mismatched = [
        (tgt_by_lower[f.name.lower()], f)
        for f in source.schema.fields
        if f.name.lower() not in meta
        and f.name.lower() in tgt_by_lower
        and not _same_ignoring_nullability(
            tgt_by_lower[f.name.lower()].dataType, f.dataType
        )
    ]
    # Narrow-source drift (int feed into a long stored column) is handled
    # unconditionally: the up-cast happens on the SOURCE side only, is
    # lossless by _is_widening, and leaves the stored schema untouched —
    # the coercion every SQL MERGE applies implicitly.  Only mismatches
    # that would rewrite the stored schema remain gated behind the flag.
    # (coerce_narrow_source=False opts back into the pre-coercion
    # contract: narrow drift stays in `mismatched` and raises below)
    if coerce_narrow_source:
        narrow_src = [
            (tf, f)
            for tf, f in mismatched
            if _is_widening(f.dataType, tf.dataType)
        ]
        for tf, f in narrow_src:
            source = source.withColumn(
                f.name, F.col(f.name).cast(tf.dataType)
            )
        mismatched = [
            (tf, f)
            for tf, f in mismatched
            if not _is_widening(f.dataType, tf.dataType)
        ]
    if mismatched and not evolve_schema:
        detail = ", ".join(
            f"{tf.name}: target {tf.dataType.simpleString()} vs source "
            f"{f.dataType.simpleString()}"
            for tf, f in mismatched
        )
        raise ValueError(
            f"merge_upsert: shared column type mismatch ({detail}). "
            "Pass evolve_schema=True to apply lossless type widening; "
            "without it a type drift in the change feed must be loud, "
            "not silently coerced into a stored-schema rewrite."
        )
    if evolve_schema:
        for tf, f in mismatched:
            if _is_widening(tf.dataType, f.dataType):
                # stored column up-casts (int table, bigint feed); the
                # narrow-source direction never reaches here — it was
                # applied unconditionally above
                target = target.withColumn(
                    tf.name, F.col(tf.name).cast(f.dataType)
                )
            else:
                raise ValueError(
                    f"merge_upsert: column {tf.name!r} type change "
                    f"{tf.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()} is not a lossless "
                    "widening; refusing to evolve (rewrite the table "
                    "explicitly if this change is intended)"
                )
        existing = set(tgt_by_lower) | meta
        new_fields = [
            f for f in source.schema.fields
            if f.name.lower() not in existing
        ]
        for f in new_fields:
            target = target.withColumn(
                f.name, F.lit(None).cast(f.dataType)
            )
        if update_cols is not None and new_fields:
            # an explicit update list predates the evolved columns; the
            # feature's contract is that matched rows TAKE the new
            # values, so the evolved names join the update set
            update_cols = list(update_cols) + [f.name for f in new_fields]
    if update_cols is None:
        # shared-column detection is case-INSENSITIVE, matching Spark's
        # default column resolution (a target 'Note' and a source 'note'
        # are the same column to the join below)
        src_lower = {c.lower() for c in source.columns}
        update_cols = [
            c for c in target.columns
            if c.lower() in src_lower and c not in keys
        ]
    if "_s_present" in source.columns:
        raise ValueError(
            "merge_upsert: source must not already carry a '_s_present' column"
        )
    if not assume_unique_source:
        dup = source.groupBy(*keys).count().where(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                "merge_upsert: source has duplicate merge keys; "
                "MERGE semantics require at most one source row per key"
            )

    def _not_deleted(prefix: str = "") -> Column:
        if not delete_col:
            return F.lit(True)
        return ~F.coalesce(F.col(f"{prefix}{delete_col}"), F.lit(False))

    # --- matched/kept path: stream the target, probe the change batch.
    # A presence marker, not key-isNotNull: a legitimately-NULL key value
    # must not read as "row absent" (the join itself is null-safe).
    t = target.alias("t")
    s0 = source.withColumn("_s_present", F.lit(True))
    s = (F.broadcast(s0) if broadcast_source else s0).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    s_hit = F.col("s._s_present").isNotNull()

    upd_cols = []
    for c in target.columns:
        if c in update_cols:
            upd_cols.append(
                F.when(s_hit, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:
            upd_cols.append(F.col(f"t.{c}").alias(c))
    if action_col:
        upd_cols.append(
            F.when(s_hit, F.lit("update")).otherwise(F.lit("keep")).alias(action_col)
        )
    matched = (
        t.join(s, on=cond, how="left")
        .where(~s_hit | _not_deleted("s."))
        .select(*upd_cols)
    )

    # --- insert path: change rows with no base match; only the base
    # table's key columns participate.
    tk = target.select(*keys).alias("tk")
    anti_cond = [F.col(f"i.{k}").eqNullSafe(F.col(f"tk.{k}")) for k in keys]
    ins = (
        s0.alias("i")
        .join(tk, on=anti_cond, how="left_anti")
        .where(_not_deleted())
    )
    ins_cols = []
    src_cols = {c.lower() for c in source.columns}
    for f in target.schema.fields:
        if f.name in keys or (
            f.name in update_cols and f.name.lower() in src_cols
        ):
            ins_cols.append(F.col(f.name))
        else:
            ins_cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if action_col:
        ins_cols.append(F.lit("insert").alias(action_col))

    return matched.unionByName(ins.select(*ins_cols))


def merge_upsert_delta(
    base: Optional[DataFrame],
    delta: DataFrame,
    keys: Sequence[str],
    update_cols: Optional[Sequence[str]] = None,
    delete_col: Optional[str] = None,
    evolve_schema: bool = False,
) -> DataFrame:
    """The upsert sinks' merge step.  ``delta`` is key-unique (after
    ``streaming.upsert.compact_last_per_key``), so the merge broadcasts
    it and skips the duplicate-key scan.  ``base=None`` is the first
    batch: the table is the delta minus its deletes and ``delete_col``."""
    if base is None:
        if delete_col:
            delta = delta.where(
                ~F.coalesce(F.col(delete_col), F.lit(False))
            ).drop(delete_col)
        return delta
    return merge_upsert(
        base,
        delta,
        keys=keys,
        update_cols=update_cols,
        delete_col=delete_col,
        broadcast_source=True,
        assume_unique_source=True,
        evolve_schema=evolve_schema,
    )


def sum_per_key(
    batch: DataFrame, keys: Sequence[str], sum_cols: Sequence[str]
) -> DataFrame:
    """Pre-aggregate a batch of additive deltas to one row per key."""
    return batch.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sum_cols])


def merge_additive(
    base: Optional[DataFrame],
    agg: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """The accumulate sinks' merge step: stored row = running sum per key.
    ``agg`` is one row per key (:func:`sum_per_key`).  Matched keys add
    through a broadcast left join (the base never shuffles), unmatched
    delta keys insert through a keys-only anti join; ``base=None`` is the
    first batch."""
    if base is None:
        return agg
    d = F.broadcast(agg).alias("d")
    t = base.alias("t")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
    matched = t.join(d, on=cond, how="left").select(
        *[F.col(f"t.{k}").alias(k) for k in keys],
        *[
            (F.col(f"t.{c}") + F.coalesce(F.col(f"d.{c}"), F.lit(0))).alias(c)
            for c in sum_cols
        ],
    )
    tk = base.select(*keys).alias("tk")
    ins = agg.alias("i").join(
        tk,
        on=[F.col(f"i.{k}").eqNullSafe(F.col(f"tk.{k}")) for k in keys],
        how="left_anti",
    )
    return matched.unionByName(ins.select(*keys, *sum_cols))


__all__ = ["merge_upsert", "merge_upsert_delta", "merge_additive", "sum_per_key"]
