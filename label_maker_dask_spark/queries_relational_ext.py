"""Round-5 relational/pipeline catalog extensions, each hash-matched
against a DuckDB oracle:

- ``timeseries_ohlc_hourly_by_type`` — hypertable-style OHLC candlestick
  rollup (:func:`operators.timeseries.resample_ohlc`): open/close via
  min/max-of-struct argmin, so the whole rollup is ONE partial-aggregable
  shuffle (no per-group sort).
- ``timeseries_multigrain_revenue`` — day/month/total revenue in one
  grouping-sets scan.
- ``merge_upsert_orders_cdc`` — CDC MERGE (SCD-1 upsert + delete) via
  :func:`operators.merge.merge_upsert`: a target-streaming broadcast left
  join for matches plus a keys-only anti join for inserts.
- ``join_skew_salted_brand_revenue`` — the explicit salted-join
  skew-mitigation pattern (:func:`operators.skew.salted_join`); oracle is
  the plain join because salting must not change results.
- ``window_percent_rank_cume_dist`` — the rank-family windows the catalog
  had not yet exercised (percent_rank/cume_dist/dense_rank), tie-stable.
- ``agg_corr_covar_by_returnflag`` — second-moment aggregates
  (corr/covar/stddev/var) with rounding margins sized to the engines'
  partial-merge float noise (corr is O(1) -> 6 dp; large-magnitude
  moments -> 2-4 dp).
- ``embedding_kmeans_clusters`` — oracle-replayable spherical k-means
  (:mod:`operators.clustering`) against an unrolled SQL oracle;
  ``..._arrow`` is a retained name for the same call.
- ``curation_semdedup_cluster_profiles`` — the SemDeDup pruning-decision
  view composed on top of the clustering.

Later round-5 additions (each documented on its entry):
``timeseries_twap_user_daily`` (interval-weighted TWAP),
``window_top3_orders_with_ties`` (rank / FETCH WITH TIES),
``scalar_null_semantics`` (three-valued logic pinned as a catalog row),
``dedup_fuzzy_part_names`` (blocked levenshtein entity resolution),
``quality_expectations_orders`` (one-scan constraint report),
``sort_limit_offset_page3`` (pagination), ``window_value_frames``
(first/last/nth_value under explicit frames), ``scalar_array_algebra``,
``scalar_date_arithmetic``, ``udtf_chunk_documents`` (Python UDTF +
LATERAL), ``spatial_points_to_tiles_z6`` (codegen point→tile binning),
``scalar_variant_extract`` (Spark 4 VariantType), and
``explode_outer_returned_lines`` (empty-array row preservation).
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.operators.clustering import spherical_kmeans
from label_maker_dask_spark.operators.merge import merge_upsert
from label_maker_dask_spark.operators.skew import salted_join
from label_maker_dask_spark.operators.timeseries import resample_ohlc
from label_maker_dask_spark.queries_shared import OHLC_ORACLE as _OHLC_ORACLE
from label_maker_dask_spark.queries_shared import _TOKS_SQL, _t, register


@register("timeseries_ohlc_hourly_by_type", _OHLC_ORACLE)
def timeseries_ohlc_hourly_by_type(spark, sf_dir):
    """Hourly OHLC candlesticks per event type.

    The oracle replays open/close with two row_number windows (per-group
    sorts); the engine path instead rides min/max-of-struct(ts, id, value)
    argmins inside ONE hash aggregate — map-side partials emit a single row
    per (type, hour) whatever the input volume, which is the shape that
    survives 100 TB (the window formulation would sort every event).
    Raw input doubles pass through unrounded — no arithmetic, so the
    engines agree bit-for-bit."""
    ev = _t(spark, sf_dir, "events")
    out = resample_ohlc(
        ev, "ts", "value", ["event_type"], "hour", tie_break="event_id"
    )
    return out.select("event_type", "bucket", "open", "high", "low", "close", "n")


_MERGE_ORACLE = """
WITH src AS (
  SELECT o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                    * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE) AS s_price,
         'U' AS s_status,
         (o_orderkey % 97 = 0) AS is_delete
  FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 100000000, 999.99, 'N', false
  FROM orders WHERE o_orderkey % 131 = 0)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       t.o_custkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.s_status
            ELSE t.o_orderstatus END AS o_orderstatus,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.s_price
            ELSE t.o_totalprice END AS o_totalprice,
       t.o_orderdate,
       t.o_orderpriority,
       CASE WHEN coalesce(s.is_delete, false) THEN 'delete'
            WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
              THEN 'update'
            WHEN s.o_orderkey IS NOT NULL THEN 'insert'
            ELSE 'keep' END AS action
FROM orders t FULL JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE NOT coalesce(s.is_delete, false)
"""


@register("merge_upsert_orders_cdc", _MERGE_ORACLE)
def merge_upsert_orders_cdc(spark, sf_dir):
    """CDC MERGE onto the orders table: a deterministic change batch
    (10%-repriced updates for key%7, deletes for key%97, fresh inserts for
    key%131 under shifted keys) applied with
    :func:`operators.merge.merge_upsert`.

    The reprice goes through exact decimals (double*1.1 then round would be
    engine-rounding-sensitive; decimal(18,2)*decimal(2,1) is exact in both).
    Scale shape: the matched path streams the base table against the
    broadcast change batch (no target shuffle); inserts anti-join the
    change batch against the base table's key column only.  The oracle
    states the same semantics as one FULL JOIN — cheap at oracle scale,
    and the hash-match proves the two formulations equivalent."""
    ords = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    upd = ords.where((key % 7 == 0) | (key % 97 == 0)).select(
        "o_orderkey",
        F.expr(
            "CAST(round(CAST(o_totalprice AS DECIMAL(18,2))"
            " * CAST(1.1 AS DECIMAL(2,1)), 2) AS DOUBLE)"
        ).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
        (key % 97 == 0).alias("is_delete"),
    )
    ins = ords.where(key % 131 == 0).select(
        (key + 100000000).alias("o_orderkey"),
        F.lit(999.99).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
        F.lit(False).alias("is_delete"),
    )
    # the change batch feeds both merge branches (matched-update join +
    # insert anti-join) and was re-derived — and re-broadcast-built —
    # per branch; a CDC batch is bounded by definition, so checkpoint it
    # once (r18)
    src = upd.unionByName(ins).localCheckpoint(eager=False)
    return merge_upsert(
        ords,
        src,
        keys=["o_orderkey"],
        update_cols=["o_totalprice", "o_orderstatus"],
        delete_col="is_delete",
        broadcast_source=True,
        action_col="action",
    )


_SALTED_ORACLE = """
SELECT p_brand,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON p_partkey = l_partkey
GROUP BY p_brand
"""


@register("join_skew_salted_brand_revenue", _SALTED_ORACLE)
def join_skew_salted_brand_revenue(spark, sf_dir):
    """Brand revenue through an explicitly salted fact⋈dim join
    (:func:`operators.skew.salted_join`, 8 salts, dim broadcast).

    The oracle is the PLAIN join — salting is pure skew mitigation and must
    be result-invariant; the hash-match proves it.  With the dim broadcast
    the salt costs nothing (the replicated dim still ships once per
    executor), while a hot part key now spreads over 8 reducers in the
    downstream agg."""
    li = _t(spark, sf_dir, "lineitem")
    pt = (
        _t(spark, sf_dir, "part")
        .withColumnRenamed("p_partkey", "l_partkey")
        .select("l_partkey", "p_brand")
    )
    joined = salted_join(li, pt, ["l_partkey"], n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_RANKFAM_ORACLE = """
SELECT c_custkey, c_mktsegment,
       dense_rank()   OVER w AS bal_dense_rank,
       round(percent_rank() OVER w, 6) AS bal_percent_rank,
       round(cume_dist()    OVER w, 6) AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal)
"""


@register("window_percent_rank_cume_dist", _RANKFAM_ORACLE)
def window_percent_rank_cume_dist(spark, sf_dir):
    """Rank-family windows (dense_rank / percent_rank / cume_dist) over
    account balance within market segment — all tie-stable (peers share a
    value), so no id tie-break is needed for a deterministic hash.

    Scale shape: one shuffle on c_mktsegment then a sorted scan; five
    segments is skew-prone at 100 TB, where the fix is the same
    pre-aggregate-or-salt toolbox as any low-cardinality partition key."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.dense_rank().over(w).alias("bal_dense_rank"),
        F.round(F.percent_rank().over(w), 6).alias("bal_percent_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )


def kmeans_oracle_sql(k: int = 8, iters: int = 1, dim: int = 64) -> str:
    """DuckDB replay of :func:`operators.clustering.spherical_kmeans` over
    ``embeddings(vec_id, embedding)``: the ``k`` lowest-id seeds, then
    ``iters`` rounds of integer-quantized exact means (1e-6 grid) and
    reassignment, every dot and norm a left-to-right ``list_reduce``,
    ties to the lowest cell.  Unrolled: one assignment CTE per pass."""
    norm = "sqrt(list_reduce(list_transform({v}, x -> x * x), (a,b) -> a + b))"
    dot = (
        f"list_reduce(list_transform(generate_series(1, {dim}), "
        "i -> u[i] * cu[i]), (a,b) -> a + b)"
    )
    ctes = [
        f"""unitv AS (
  SELECT vec_id, list_transform(v, x -> x / nrm) AS u
  FROM (SELECT vec_id, v, {norm.format(v="v")} AS nrm
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings)))""",
        f"""cent0 AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, u AS cu
  FROM (SELECT vec_id, u FROM unitv ORDER BY vec_id LIMIT {k}))""",
    ]
    for it in range(iters + 1):
        ctes.append(f"""a{it} AS (
  SELECT vec_id, u, cell, dot,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY dot DESC, cell ASC) AS rn
  FROM (SELECT vec_id, u, cell, {dot} AS dot
        FROM unitv CROSS JOIN cent{it}))""")
        if it == iters:
            break
        ctes.append(f"""qsum{it} AS (
  SELECT cell, pos,
         sum(CAST(round(u[pos] * 1000000) AS BIGINT)) AS s,
         count(*) AS n
  FROM (SELECT cell, u, unnest(generate_series(1, {dim})) AS pos
        FROM a{it} WHERE rn = 1)
  GROUP BY cell, pos)""")
        ctes.append(f"""cent{it + 1} AS (
  SELECT cell, list_transform(mv, x -> x / nrm) AS cu
  FROM (SELECT cell, mv, {norm.format(v="mv")} AS nrm
        FROM (SELECT cell,
                     list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY pos)
                       AS mv
              FROM qsum{it} GROUP BY cell)))""")
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT vec_id, cell AS cluster, round(dot, 6) AS sim\n"
        f"FROM a{iters} WHERE rn = 1\n"
    )


_KMEANS_ORACLE = kmeans_oracle_sql()


@register("embedding_kmeans_clusters", _KMEANS_ORACLE)
def embedding_kmeans_clusters(spark, sf_dir):
    """Spherical k-means (k=8, one Lloyd refinement) over the embeddings
    table — the clustering step of SemDeDup-style semantic curation
    (:func:`operators.clustering.spherical_kmeans`).

    The oracle unrolls the identical iteration in SQL: same deterministic
    lowest-id seeds, same left-to-right dot/norm folds, same
    integer-quantized exact means — so the hash-match proves the
    *distributed* implementation is partition-order-independent.  Scale
    shape per iteration: a k-row centroid collect, one narrow Arrow
    assignment pass (numpy left-fold dots per batch, no shuffle), plus
    one (cluster, dim) integer-sum shuffle of k*d rows."""
    emb = _t(spark, sf_dir, "embeddings")
    return spherical_kmeans(emb, k=8, iters=1)


@register("embedding_kmeans_clusters_arrow", _KMEANS_ORACLE)
def embedding_kmeans_clusters_arrow(spark, sf_dir):
    """A retained catalog name pointing at the one implementation: the
    same call as ``embedding_kmeans_clusters``, against the same oracle."""
    return embedding_kmeans_clusters(spark, sf_dir)


_SEMDEDUP_ORACLE = f"""
SELECT cluster,
       min(vec_id) FILTER (WHERE rn = 1) AS rep_vec_id,
       count(*) AS n_members,
       round(avg(sim), 6) AS avg_centroid_sim,
       round(min(sim), 6) AS min_centroid_sim
FROM (
  SELECT cluster, vec_id, sim,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY sim DESC, vec_id ASC) AS rn
  FROM ({_KMEANS_ORACLE}) a)
GROUP BY cluster
"""


@register("curation_semdedup_cluster_profiles", _SEMDEDUP_ORACLE)
def curation_semdedup_cluster_profiles(spark, sf_dir):
    """The pruning-decision view of SemDeDup semantic curation: per
    semantic cluster, the representative (closest-to-centroid, ties to the
    lowest id), member count, and the centroid-similarity profile that
    drives keep/drop thresholds.

    Composes :func:`operators.clustering.spherical_kmeans` (as
    ``embedding_kmeans_clusters``) with a per-cluster argmax window — the
    window partitions on cluster id (k groups), but its input is already
    one row per vector, so the sort is k small sorts, not a fact-table
    sort.  avg/min
    similarities round at 6 dp (values are O(1) cosines; partial-merge
    noise is ~1e-13)."""
    emb = _t(spark, sf_dir, "embeddings")
    clusters = spherical_kmeans(emb, k=8, iters=1)
    w = Window.partitionBy("cluster").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    return (
        clusters.withColumn("rn", F.row_number().over(w))
        .groupBy("cluster")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("vec_id"))).alias(
                "rep_vec_id"
            ),
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sim"), 6).alias("avg_centroid_sim"),
            F.round(F.min("sim"), 6).alias("min_centroid_sim"),
        )
    )


_MOMENTS_ORACLE = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6)       AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
       round(covar_pop(l_quantity, l_extendedprice), 2)  AS covar_pop_qty_price,
       round(stddev_samp(l_quantity), 6)                 AS std_qty,
       round(var_pop(l_quantity), 4)                     AS var_qty,
       round(stddev_samp(l_extendedprice), 2)            AS std_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""


@register("agg_corr_covar_by_returnflag", _MOMENTS_ORACLE)
def agg_corr_covar_by_returnflag(spark, sf_dir):
    """Second-moment aggregates per return flag.  Rounding margins are
    sized to magnitude so cross-engine/partition-order float noise (~1e-12
    relative, from merging partial (n, mean, M2) states in different
    orders) can never flip a rounded digit: corr is O(1) -> 6 dp,
    price-scale moments (~1e4..1e8) -> 2-4 dp.

    Scale shape: all six moments ride one map-side-partial hash aggregate
    — a single shuffle of 4 groups x constant state."""
    li = _t(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr(q, p), 6).alias("corr_qty_price"),
        F.round(F.covar_samp(q, p), 2).alias("covar_qty_price"),
        F.round(F.covar_pop(q, p), 2).alias("covar_pop_qty_price"),
        F.round(F.stddev_samp(q), 6).alias("std_qty"),
        F.round(F.var_pop(q), 4).alias("var_qty"),
        F.round(F.stddev_samp(p), 2).alias("std_price"),
        F.count(F.lit(1)).alias("n"),
    )


_MULTIGRAIN_ORACLE = """
SELECT date_trunc('day', o_orderdate) AS day,
       date_trunc('month', o_orderdate) AS month,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS revenue,
       count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((date_trunc('day', o_orderdate)),
                        (date_trunc('month', o_orderdate)), ())
"""


@register("timeseries_multigrain_revenue", _MULTIGRAIN_ORACLE)
def timeseries_multigrain_revenue(spark, sf_dir):
    """Hypertable-style continuous-aggregate sweep: revenue at day, month,
    and grand-total grains in ONE grouping-sets pass over the fact table
    (each grain's rows carry NULL in the other grain's bucket column).

    Scale shape: grouping sets expand map-side — the fact table is
    scanned once and the shuffle carries one partial row per (grain,
    bucket) per task, vs three separate scans for three rollups.  Sums
    ride exact decimals for cross-engine stability."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("mg_orders")
    return spark.sql(
        """
        SELECT date_trunc('day', o_orderdate) AS day,
               date_trunc('month', o_orderdate) AS month,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2)
                    AS DOUBLE) AS revenue,
               count(*) AS n_orders
        FROM mg_orders
        GROUP BY GROUPING SETS ((date_trunc('day', o_orderdate)),
                                (date_trunc('month', o_orderdate)), ())
        """
    )


_TWAP_ORACLE = """
WITH x AS (
  SELECT user_id, date_trunc('day', ts) AS day, value,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                  ORDER BY ts, event_id)
           - epoch_us(ts) AS dur
  FROM events)
SELECT user_id, day, count(*) AS n_events,
       round(sum(value * dur) / sum(dur), 6) AS twap
FROM x GROUP BY user_id, day
"""


@register("timeseries_twap_user_daily", _TWAP_ORACLE)
def timeseries_twap_user_daily(spark, sf_dir):
    """Time-weighted average value per (user, day): each observation holds
    until the next one, weighted by its holding interval in microseconds
    (the last observation of the day carries no weight) — the TWAP shape
    every metering/pricing pipeline needs, which a plain avg() gets wrong
    whenever sampling is irregular.

    Scale shape: one shuffle on (user, day) shared by the lead window and
    the final aggregate; weights are integer micros (exact, < 2^53 so the
    double product is exact too), and the 6-dp round on the ratio absorbs
    partial-merge float noise.  Single-observation groups yield NULL twap
    (zero total weight) identically in both engines."""
    from label_maker_dask_spark.functions.timeutil import epoch_micros

    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    dur = F.lead(epoch_micros("ts")).over(w) - epoch_micros("ts")
    x = ev.select(
        "user_id", day.alias("day"), "value", dur.alias("dur")
    )
    return x.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value") * F.col("dur")) / F.sum("dur"), 6).alias(
            "twap"
        ),
    )


_TOPK_TIES_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC) AS rk
  FROM orders)
WHERE rk <= 3
"""


@register("window_top3_orders_with_ties", _TOPK_TIES_ORACLE)
def window_top3_orders_with_ties(spark, sf_dir):
    """Per-customer top-3 orders WITH TIES (rank, not row_number — the
    SQL `FETCH FIRST 3 ROWS WITH TIES` semantics): equal-priced orders at
    the boundary all survive, so the result is deterministic without any
    id tie-break.  Complements `window_top3_orders_per_customer`, whose
    row_number cut needs one.

    Scale shape: same as any per-group top-k — one shuffle on the group
    key with Spark's WindowGroupLimit pushing the rank cut below the
    sort."""
    ords = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"))
    return (
        ords.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


_NULLSEM_ORACLE = """
SELECT o_orderkey,
       NULLIF(o_orderpriority, '3-MEDIUM') AS pri_or_null,
       coalesce(NULLIF(o_orderpriority, '3-MEDIUM'), 'DEFAULT')
         AS pri_coalesced,
       (NULLIF(o_orderpriority, '3-MEDIUM') IS NOT DISTINCT FROM NULL)
         AS nullsafe_is_null,
       CASE WHEN o_totalprice > 100000 THEN NULL
            ELSE round(o_totalprice, 2) END AS price_capped,
       CAST((CASE WHEN o_totalprice > 100000 THEN NULL
                  ELSE o_totalprice END > 50000) AS INT) AS cmp_three_valued
FROM orders
"""


@register("scalar_null_semantics", _NULLSEM_ORACLE)
def scalar_null_semantics(spark, sf_dir):
    """SQL three-valued logic exercised end-to-end: NULLIF, coalesce,
    null-safe equality (`<=>` / IS NOT DISTINCT FROM), and a comparison
    whose NULL input propagates NULL (not false) into the output column.
    This is the documented divergence from the reference's Python
    semantics (SURVEY.md §7: missing-property comparisons) pinned as a
    hash-matched catalog row, not just prose."""
    ords = _t(spark, sf_dir, "orders")
    pri_or_null = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    price_capped_raw = F.when(
        F.col("o_totalprice") > 100000, F.lit(None)
    ).otherwise(F.col("o_totalprice"))
    return ords.select(
        "o_orderkey",
        pri_or_null.alias("pri_or_null"),
        F.coalesce(pri_or_null, F.lit("DEFAULT")).alias("pri_coalesced"),
        pri_or_null.eqNullSafe(F.lit(None).cast("string")).alias(
            "nullsafe_is_null"
        ),
        F.round(price_capped_raw, 2).alias("price_capped"),
        # NULL input propagates NULL through the comparison (three-valued
        # logic); cast to INT because a NULL *boolean* renders differently
        # in the two engines' pandas bridges (None vs NaN) and would fake
        # a hash mismatch
        (price_capped_raw > 50000).cast("int").alias("cmp_three_valued"),
    )


_FUZZY_ORACLE = """
WITH names AS (
  SELECT p_name, split_part(p_name, ' ', 2) AS block,
         count(*) AS n_parts
  FROM part GROUP BY 1, 2)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       levenshtein(a.p_name, b.p_name) AS edit_dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 4
"""


@register("dedup_fuzzy_part_names", _FUZZY_ORACLE)
def dedup_fuzzy_part_names(spark, sf_dir):
    """Entity resolution by blocked edit distance: candidate part-name
    pairs share a blocking key (the noun — the entity type), and survive
    at levenshtein <= 4 — the classic fuzzy-matching shape where the
    pairwise metric only ever runs WITHIN blocks of distinct values.

    Scale shape: pairwise work is O(sum over blocks of distinct_names^2),
    not corpus^2 — names dedupe + aggregate first (one shuffle), and the
    self-join runs on the tiny distinct-name frame.  At 100 TB the same
    plan holds as long as blocks bound distinct values (compose with the
    MinHash path when they don't).  `levenshtein` is identically defined
    in both engines, so no rounding is involved."""
    names = (
        _t(spark, sf_dir, "part")
        .groupBy(
            F.col("p_name"),
            F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("block"),
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = names.alias("a")
    b = names.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.block") == F.col("b.block"),
            F.col("a.p_name") < F.col("b.p_name"),
        ],
    )
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return pairs.where(dist <= 4).select(
        F.col("a.p_name").alias("name_a"),
        F.col("b.p_name").alias("name_b"),
        dist.alias("edit_dist"),
        F.col("a.n_parts").alias("n_parts_a"),
        F.col("b.n_parts").alias("n_parts_b"),
    )


_EXPECT_ORACLE = """
WITH agg AS (
  SELECT count(*) AS n,
         sum(CASE WHEN NOT coalesce(o_totalprice > 0, false)
                  THEN 1 ELSE 0 END)::BIGINT AS v_price,
         sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), false)
                  THEN 1 ELSE 0 END)::BIGINT AS v_status,
         sum(CASE WHEN NOT coalesce(o_orderpriority IS NOT NULL, false)
                  THEN 1 ELSE 0 END)::BIGINT AS v_priority,
         sum(CASE WHEN NOT coalesce(o_orderdate >= TIMESTAMP '1992-01-01',
                                    false)
                  THEN 1 ELSE 0 END)::BIGINT AS v_date
  FROM orders)
SELECT 'totalprice_positive' AS rule, n AS n_rows, v_price AS n_violations,
       round(v_price::DOUBLE / n, 6) AS violation_rate FROM agg
UNION ALL
SELECT 'status_known', n, v_status, round(v_status::DOUBLE / n, 6) FROM agg
UNION ALL
SELECT 'priority_nonnull', n, v_priority,
       round(v_priority::DOUBLE / n, 6) FROM agg
UNION ALL
SELECT 'orderdate_in_range', n, v_date,
       round(v_date::DOUBLE / n, 6) FROM agg
"""


@register("quality_expectations_orders", _EXPECT_ORACLE)
def quality_expectations_orders(spark, sf_dir):
    """Declarative ingest-gate constraint report over orders
    (:func:`operators.quality.check_expectations`): four rules —
    positivity, enum membership, non-null, date range — checked in ONE
    scan (one conditional-sum per rule riding a single map-side-partial
    aggregate), then unpivoted to a (rule, violations, rate) report.
    NULL rule evaluations count as violations in both engines."""
    from label_maker_dask_spark.operators.quality import check_expectations

    ords = _t(spark, sf_dir, "orders")
    return check_expectations(
        ords,
        {
            "totalprice_positive": F.col("o_totalprice") > 0,
            "status_known": F.col("o_orderstatus").isin("O", "F", "P"),
            "priority_nonnull": F.col("o_orderpriority").isNotNull(),
            "orderdate_in_range": F.col("o_orderdate")
            >= F.lit("1992-01-01").cast("timestamp"),
        },
    )


_PAGE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25 OFFSET 50
"""


@register("sort_limit_offset_page3", _PAGE_ORACLE)
def sort_limit_offset_page3(spark, sf_dir):
    """Keyset-free pagination (page 3 at 25/page): global ORDER BY +
    LIMIT/OFFSET under a fully deterministic total order (price desc, key
    asc tie-break).

    Scale note: OFFSET is inherently top-(offset+limit) — Spark plans it
    as a TakeOrdered of 75 rows then a driver-side skip, fine for UI
    paging; deep paging at 100 TB should switch to keyset pagination
    (WHERE (price, key) < last_seen ORDER BY ... LIMIT n), which this
    same total order supports."""
    ords = _t(spark, sf_dir, "orders")
    return (
        ords.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(50)
        .limit(25)
    )


_FRAMES_ORACLE = """
SELECT o_custkey, o_orderkey,
       first_value(o_totalprice) OVER w AS first_price,
       last_value(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS latest_price,
       nth_value(o_totalprice, 2) OVER w AS second_price,
       round(avg(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
         AS trailing3_avg
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


@register("window_value_frames", _FRAMES_ORACLE)
def window_value_frames(spark, sf_dir):
    """The value-window family under explicit ROWS frames: first_value /
    last_value / nth_value over the full partition (last_value under the
    DEFAULT frame is the current row — the classic trap; the explicit
    UNBOUNDED FOLLOWING frame is stated in both engines) plus a trailing
    3-row moving average.  Order is (o_orderdate, o_orderkey): fully
    deterministic, no peer ambiguity."""
    ords = _t(spark, sf_dir, "orders")
    full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    trail = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return ords.select(
        "o_custkey",
        "o_orderkey",
        F.first("o_totalprice").over(full).alias("first_price"),
        F.last("o_totalprice").over(full).alias("latest_price"),
        F.nth_value("o_totalprice", 2).over(full).alias("second_price"),
        F.round(F.avg("o_totalprice").over(trail), 6).alias("trailing3_avg"),
    )


_ARRAY_ALGEBRA_ORACLE = """
WITH per_cust AS (
  SELECT o_custkey,
         list(DISTINCT o_orderpriority ORDER BY o_orderpriority) AS pris,
         list(round(o_totalprice, 2) ORDER BY o_totalprice DESC,
              o_orderkey) AS prices
  FROM orders GROUP BY o_custkey)
SELECT o_custkey,
       len(pris) AS n_priorities,
       pris[1] AS top_priority,
       CAST(len(list_intersect(pris,
            ['1-URGENT', '2-HIGH'])) > 0 AS INT) AS has_urgent_or_high,
       prices[1] AS max_price,
       round(list_reduce(list_transform(prices[1:3], x -> x),
                         (a, b) -> a + b), 2) AS top3_price_sum
FROM per_cust
"""


@register("scalar_array_algebra", _ARRAY_ALGEBRA_ORACLE)
def scalar_array_algebra(spark, sf_dir):
    """Array algebra end-to-end with scalar outputs: ordered distinct
    collect, element access, set intersection, slice + sequential-fold
    sum — the collect_list nondeterminism trap resolved by sorting inside
    the aggregate (array_sort / ORDER BY list agg) before any element is
    read.  Output columns stay scalar per the driver-hash contract."""
    ords = _t(spark, sf_dir, "orders")
    per_cust = ords.groupBy("o_custkey").agg(
        F.array_sort(F.collect_set("o_orderpriority")).alias("pris"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("o_totalprice")).alias("negp"),
                        F.col("o_orderkey").alias("k"),
                        F.round("o_totalprice", 2).alias("p"),
                    )
                )
            ),
            lambda s: s["p"],
        ).alias("prices"),
    )
    return per_cust.select(
        "o_custkey",
        F.size("pris").alias("n_priorities"),
        F.element_at("pris", 1).alias("top_priority"),
        (
            F.size(
                F.array_intersect("pris", F.array(F.lit("1-URGENT"), F.lit("2-HIGH")))
            )
            > 0
        )
        .cast("int")
        .alias("has_urgent_or_high"),
        F.element_at("prices", 1).alias("max_price"),
        F.round(
            F.aggregate(
                F.slice("prices", 1, 3), F.lit(0.0), lambda a, x: a + x
            ),
            2,
        ).alias("top3_price_sum"),
    )


_DATE_ARITH_ORACLE = """
SELECT o_orderkey,
       date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
         AS days_since_92,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       quarter(o_orderdate) AS qtr,
       isodow(o_orderdate) - 1 AS weekday_mon0,
       (year(o_orderdate) - 1992) * 12 + (month(o_orderdate) - 1)
         AS months_since_92,
       CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3m
FROM orders
"""


@register("scalar_date_arithmetic", _DATE_ARITH_ORACLE)
def scalar_date_arithmetic(spark, sf_dir):
    """Date/time arithmetic breadth: day diffs, month-end, quarter,
    Monday-based weekday, month arithmetic with end-of-month clamping
    (`add_months` / `+ INTERVAL MONTH` both clamp Jan 31 + 1mo to the
    last of February).  Weekday uses the Monday=0 convention stated
    explicitly on both sides (Spark `weekday` vs DuckDB `isodow - 1`) —
    the Sunday-based `dayofweek` numberings differ between engines and
    are avoided.  Month distance is the integer boundary-count formula,
    not fractional `months_between` (engine-specific day-fraction
    rules).  DATE outputs are cast to TIMESTAMP on the Spark side: the
    two engines' pandas bridges render bare dates differently (date
    object vs datetime64 midnight) and would fake a hash mismatch."""
    ords = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return ords.select(
        "o_orderkey",
        F.datediff(d, F.lit("1992-01-01").cast("date")).alias("days_since_92"),
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.quarter("o_orderdate").alias("qtr"),
        F.weekday("o_orderdate").alias("weekday_mon0"),
        (
            (F.year("o_orderdate") - 1992) * 12 + (F.month("o_orderdate") - 1)
        ).alias("months_since_92"),
        F.add_months(d, 3).cast("timestamp").alias("plus_3m"),
    )


def _chunk_oracle() -> str:
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    ix AS (SELECT doc_id, toks,
                  unnest(generate_series(1,
                      CAST(ceil(len(toks) / 10.0) AS INT))) AS i
           FROM t WHERE len(toks) > 0)
    SELECT doc_id, i - 1 AS chunk_idx,
           len(toks[(i - 1) * 10 + 1 : i * 10]) AS n_tokens,
           array_to_string(toks[(i - 1) * 10 + 1 : i * 10], ' ')
             AS chunk_text
    FROM ix
    """


@register("udtf_chunk_documents", _chunk_oracle())
def udtf_chunk_documents(spark, sf_dir):
    """Python UDTF surface (the table-function quadrant of the UDF family,
    alongside the scalar pandas / grouped-map / grouped-agg entries):
    a lateral row-emitting chunker that splits each document into 10-token
    chunks — one output row per chunk with its index, length, and text.

    Row-at-a-time Python by DESIGN — this entry pins the UDTF mechanism
    (lateral correlation, multi-row yield, schema declaration); the
    vectorized chunking path for production volume is pack_sequences /
    mapInPandas.  Tokenization is whitespace-split, identical to
    functions/text.tokens and the oracle's string_split+filter."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, chunk_idx int, n_tokens int, chunk_text string")
    class ChunkDoc:
        def eval(self, doc_id, text):
            toks = text.split()
            for i in range((len(toks) + 9) // 10):
                chunk = toks[i * 10 : (i + 1) * 10]
                yield doc_id, i, len(chunk), " ".join(chunk)

    spark.udtf.register("lmds_chunk_doc", ChunkDoc)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("udtf_docs_v")
    return spark.sql(
        "SELECT c.* FROM udtf_docs_v d, "
        "LATERAL lmds_chunk_doc(d.doc_id, d.text) c"
    )


_SPATIAL_BIN_ORACLE = """
WITH pts AS (
  SELECT event_id,
         (event_id * 7919 % 36000) / 100.0 - 180.0 AS lon,
         (event_id * 104729 % 16000) / 100.0 - 80.0 AS lat
  FROM events),
t AS (
  SELECT CAST(least(63.0, greatest(0.0,
           floor((lon / 360.0 + 0.5) * 64.0))) AS INT) AS x,
         CAST(least(63.0, greatest(0.0,
           floor((0.5 - 0.25 * ln((1.0 + sin(radians(lat)))
                                  / (1.0 - sin(radians(lat)))) / pi())
                 * 64.0))) AS INT) AS y
  FROM pts)
SELECT x, y, count(*) AS n_points FROM t GROUP BY x, y
"""


@register("spatial_points_to_tiles_z6", _SPATIAL_BIN_ORACLE)
def spatial_points_to_tiles_z6(spark, sf_dir):
    """Spatial binning through the engine's OWN tile math
    (:func:`tiles.lnglat_to_tile_cols`): deterministic synthetic points
    (integer-arithmetic lon/lat derived from event ids) bucketed into
    their containing z6 slippy tile, counted per tile.  The oracle
    re-derives the inverse-Mercator formula term-for-term in SQL, so the
    hash-match independently certifies the geo core the label-maker
    pipeline stands on (tiles.py — the same math that enumerates job
    tiles and bboxes).

    Scale shape: point→tile is pure codegen column math (no UDF, no
    join); the only shuffle is the (x, y) count — the standard
    spatial-aggregation plan at any zoom."""
    from label_maker_dask_spark.tiles import lnglat_to_tile_cols

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 16000) / 100.0 - 80.0).alias("lat"),
    )
    tile = lnglat_to_tile_cols(F.col("lon"), F.col("lat"), zoom=6)
    return (
        pts.select(tile.getField("x").alias("x"), tile.getField("y").alias("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


_PYRAMID_ORACLE = """
WITH pts AS (
  SELECT (event_id * 7919 % 36000) / 100.0 - 180.0 AS lon,
         (event_id * 104729 % 16000) / 100.0 - 80.0 AS lat
  FROM events),
z10 AS (
  SELECT CAST(least(1023.0, greatest(0.0,
           floor((lon / 360.0 + 0.5) * 1024.0))) AS INT) AS x,
         CAST(least(1023.0, greatest(0.0,
           floor((0.5 - 0.25 * ln((1.0 + sin(radians(lat)))
                                  / (1.0 - sin(radians(lat)))) / pi())
                 * 1024.0))) AS INT) AS y,
         count(*) AS n
  FROM pts GROUP BY 1, 2),
z8 AS (SELECT x >> 2 AS x, y >> 2 AS y, sum(n) AS n FROM z10 GROUP BY 1, 2),
z6 AS (SELECT x >> 2 AS x, y >> 2 AS y, sum(n) AS n FROM z8 GROUP BY 1, 2)
SELECT 10 AS zoom, x, y, CAST(n AS BIGINT) AS n_points FROM z10
UNION ALL
SELECT 8, x, y, CAST(n AS BIGINT) FROM z8
UNION ALL
SELECT 6, x, y, CAST(n AS BIGINT) FROM z6
"""


@register("spatial_tile_pyramid_rollup", _PYRAMID_ORACLE)
def spatial_tile_pyramid_rollup(spark, sf_dir):
    """Tile-pyramid rollup — the hierarchical-aggregate shape every tile
    service materializes: points bin ONCE at the finest zoom (z10), and
    every coarser level derives from the CHILD AGGREGATE by integer
    coordinate shifts (z8 = z10 tiles >> 2, z6 = z8 >> 2) — the fact
    table is scanned exactly once, and each rollup step aggregates
    tile-count-bounded rows (1M -> 65k -> 4k cells max), the hypertable
    continuous-aggregate pattern applied to space instead of time.
    Consistency is arithmetic, not approximate: floor(v * 1024) >> 4 ==
    floor(v * 64), so the derived z6 counts equal direct z6 binning
    (spatial_points_to_tiles_z6 gates that same math directly).

    Scale shape: point->tile is codegen column math; the z10 count is
    the only fact-sized shuffle; the two parent rollups shuffle tile
    aggregates orders smaller than the input."""
    from label_maker_dask_spark.tiles import lnglat_to_tile_cols

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 16000) / 100.0 - 80.0).alias("lat"),
    )
    tile = lnglat_to_tile_cols(F.col("lon"), F.col("lat"), zoom=10)
    # each union branch re-derived its whole ancestry lazily (z6 replays
    # z8 replays z10 replays the fact scan — 3 fact passes); checkpoint
    # the tile-cardinality levels so the fact aggregates once and each
    # parent level aggregates its checkpointed child (r18)
    z10 = (
        pts.select(
            tile.getField("x").alias("x"), tile.getField("y").alias("y")
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )

    def parent(child):
        return child.groupBy(
            F.shiftright("x", 2).alias("x"), F.shiftright("y", 2).alias("y")
        ).agg(F.sum("n").alias("n")).localCheckpoint(eager=False)

    z8 = parent(z10)
    z6 = parent(z8)

    def leveled(df, zoom):
        return df.select(
            F.lit(zoom).alias("zoom"), "x", "y",
            F.col("n").cast("long").alias("n_points"),
        )

    return (
        leveled(z10, 10).unionByName(leveled(z8, 8)).unionByName(leveled(z6, 6))
    )


_VARIANT_ORACLE = """
WITH x AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events)
SELECT event_type, count(*) AS n,
       min(k) AS min_k, max(k) AS max_k,
       round(avg(k), 6) AS avg_k
FROM x GROUP BY event_type
"""


@register("scalar_variant_extract", _VARIANT_ORACLE)
def scalar_variant_extract(spark, sf_dir):
    """Semi-structured access through Spark 4's VariantType: ``parse_json``
    once into a variant, then typed ``try_variant_get`` extraction —
    the open-schema path that replaces string re-parsing per access
    (variant stores a parsed binary form; repeated field reads don't
    re-tokenize the JSON).  The oracle reads the same field with DuckDB's
    JSON extraction; aggregation keeps the outputs scalar."""
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


_EXPLODE_OUTER_ORACLE = """
WITH a AS (
  SELECT o_orderkey,
         coalesce(list(l_linenumber ORDER BY l_linenumber)
                    FILTER (WHERE l_returnflag = 'R'),
                  CAST([] AS INTEGER[])) AS r_lines
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY o_orderkey),
ex AS (
  SELECT o_orderkey, unnest(r_lines) AS r_line FROM a WHERE len(r_lines) > 0
  UNION ALL
  SELECT o_orderkey, NULL FROM a WHERE len(r_lines) = 0)
SELECT o_orderkey, r_line FROM ex
"""


@register("explode_outer_returned_lines", _EXPLODE_OUTER_ORACLE)
def explode_outer_returned_lines(spark, sf_dir):
    """explode_outer's defining edge: an order with NO returned lines
    still yields one row (NULL element) — the semantics a plain explode
    silently drops, and the classic source of disappearing-row bugs in
    fan-out pipelines.  The oracle spells the same contract as
    unnest-for-nonempty UNION null-for-empty."""
    ords = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    a = (
        ords.join(li, ords["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("l_returnflag") == "R", F.col("l_linenumber"))
                )
            ).alias("r_lines")
        )
    )
    return a.select(
        "o_orderkey", F.explode_outer("r_lines").alias("r_line")
    )


_COGROUP_ORACLE = """
WITH o AS (SELECT o_custkey AS user_id, count(*) AS n_orders,
                  CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2)
                       AS DOUBLE) AS order_value
           FROM orders GROUP BY 1),
e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
SELECT coalesce(o.user_id, e.user_id) AS user_id,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(o.order_value, 0.0) AS order_value,
       coalesce(e.n_events, 0) AS n_events
FROM o FULL JOIN e ON o.user_id = e.user_id
"""


@register("udf_cogroup_orders_events", _COGROUP_ORACLE)
def udf_cogroup_orders_events(spark, sf_dir):
    """The cogrouped-map quadrant of the pandas-UDF family (alongside
    scalar / grouped-map / grouped-agg / UDTF): orders and events cogroup
    on the customer key and a pandas function reconciles each pair of
    group frames — the escape hatch for per-key logic that needs BOTH
    sides as materialized frames (custom as-of merges, per-key model
    scoring).  Here the reconcile is deliberately simple (counts + exact
    decimal order value) so a full-join oracle can hash-match it.

    Scale shape: cogroup shuffles each side once on the key — the same
    exchanges a join would take — and group pairs stream through Arrow;
    per-key frames must fit a worker (same contract as any
    applyInPandas)."""
    import pandas as pd

    # aggregate-before-shuffle (guide §2.3): the decimal sum and both
    # counts collapse map-side to ONE row per key, so the cogroup's
    # exchanges and the Arrow boundary carry |keys| rows instead of
    # every order/event row — and the pandas function reads scalars
    # instead of summing object-dtype Decimal columns.  Spark's decimal
    # sum is exact, so round(·, 2) sees the same Decimal the row-level
    # pandas sum produced and the result is value-identical.
    #
    # The repartition pins the cogroup stage's parallelism to the
    # cluster (2x defaultParallelism, nudged off the session shuffle
    # count so physical planning cannot elide it as redundant): this
    # stage's cost is per-GROUP Python round-trip overhead, which AQE's
    # byte-based coalescing cannot see — it folds the small post-agg
    # exchange to ONE partition and serializes every group through a
    # single Python worker (measured 22 s -> 3.3 s at sf0.1; the
    # partition count scales with the cluster, not a constant).
    nparts = spark.sparkContext.defaultParallelism * 2
    if nparts == int(spark.conf.get("spark.sql.shuffle.partitions")):
        nparts += 1
    ords = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_totalprice").cast("decimal(28,8)").alias("price"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price").alias("price_sum"),
        )
        .repartition(nparts, "user_id")
    )
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .repartition(nparts, "user_id")
    )

    def reconcile(key, odf, edf):
        value = (
            float(round(odf["price_sum"].iloc[0], 2)) if len(odf) else 0.0
        )
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_orders": [int(odf["n_orders"].iloc[0]) if len(odf) else 0],
                "order_value": [value],
                "n_events": [int(edf["n_events"].iloc[0]) if len(edf) else 0],
            }
        )

    return (
        ords.groupBy("user_id")
        .cogroup(ev.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_orders long, order_value double, n_events long",
        )
    )


_SPATIAL_GRID_JOIN_ORACLE = """
WITH pts AS (
  SELECT event_id,
         (event_id * 7919 % 36000) / 100.0 - 180.0 AS lon,
         (event_id * 104729 % 16000) / 100.0 - 80.0 AS lat,
         value
  FROM events),
r AS (
  SELECT n_nationkey, n_name,
         (n_nationkey * 37 % 300) - 170.0 AS west,
         (n_nationkey * 53 % 130) - 75.0 AS south
  FROM nation)
SELECT r.n_nationkey, r.n_name,
       count(p.lon) AS n_points,
       CAST(coalesce(sum(CAST(round(p.value * 100, 0) AS BIGINT)), 0)
         AS BIGINT) AS value_cents
FROM r LEFT JOIN pts p
  ON p.lon >= r.west AND p.lon <= r.west + 14.0
 AND p.lat >= r.south AND p.lat <= r.south + 9.0
GROUP BY 1, 2
"""


@register("spatial_grid_bbox_join", _SPATIAL_GRID_JOIN_ORACLE)
def spatial_grid_bbox_join(spark, sf_dir):
    """Spatial join via GRID BUCKETING: points (synthetic lon/lat from
    event ids — the same derivation the z6 binning query certifies)
    joined to 25 bbox regions (derived from ``nation``) — but as an
    EQUI-join on z5 tile keys, not a theta containment join.

    The scale problem: a bbox containment join is a range theta join —
    Spark plans it as a broadcast nested loop, every point tested
    against every region (fine at 25 regions, quadratic death at 25k).
    The grid fix: each region explodes to its covering tile range
    (bounded: a few tiles per region at a zoom matched to region
    size), each point maps to its ONE containing tile (pure codegen
    Mercator math, ``tiles.lnglat_to_tile_cols``), candidates meet in
    a plain equi-join on (x, y), and the exact bbox predicate runs
    post-join on candidates only.  Correct by monotonicity: the
    point→tile map and the range endpoints evaluate the SAME
    double-precision formula, and floor of a monotone map keeps every
    in-bbox point inside the corner tiles' range — so recall is exact,
    and the oracle can be the plain theta join (result invariance is
    the whole claim).  A point lands in exactly one tile, so no
    dedup is needed.

    Scale shape: the region-tiles side is O(regions x tiles-per-
    region), broadcast; points never shuffle for the join; per-region
    totals are one partial-aggregable hash agg; empty regions survive
    via the final left join onto the (broadcast) region dim.  Value
    totals ride as integer cents, so the sums are order-free exact."""
    from label_maker_dask_spark.tiles import lnglat_to_tile_cols

    Z = 5
    z2 = float(1 << Z)
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 16000) / 100.0 - 80.0).alias("lat"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    tile = lnglat_to_tile_cols(F.col("lon"), F.col("lat"), zoom=Z)
    pts = pts.select(
        "lon", "lat", "cents",
        tile.getField("x").alias("x"), tile.getField("y").alias("y"),
    )

    nation = _t(spark, sf_dir, "nation")
    regions = nation.select(
        "n_nationkey", "n_name",
        ((F.col("n_nationkey") * 37 % 300) - 170.0).alias("west"),
        ((F.col("n_nationkey") * 53 % 130) - 75.0).alias("south"),
    ).withColumn("east", F.col("west") + 14.0).withColumn(
        "north", F.col("south") + 9.0
    )

    def tx(lng):
        return F.least(
            F.lit(z2 - 1),
            F.greatest(F.lit(0.0), F.floor((lng / 360.0 + 0.5) * z2)),
        ).cast("int")

    def ty(lat):
        sinlat = F.sin(F.radians(lat))
        yf = (
            F.lit(0.5)
            - F.lit(0.25)
            * F.log((1.0 + sinlat) / (1.0 - sinlat))
            / math.pi
        )
        return F.least(
            F.lit(z2 - 1), F.greatest(F.lit(0.0), F.floor(yf * z2))
        ).cast("int")

    region_tiles = regions.select(
        "n_nationkey", "west", "south", "east", "north",
        F.explode(
            F.sequence(tx(F.col("west")), tx(F.col("east")))
        ).alias("x"),
        F.sequence(ty(F.col("north")), ty(F.col("south"))).alias("_ys"),
    ).select(
        "n_nationkey", "west", "south", "east", "north", "x",
        F.explode("_ys").alias("y"),
    )

    cand = pts.join(F.broadcast(region_tiles), ["x", "y"])
    matched = cand.where(
        (F.col("lon") >= F.col("west"))
        & (F.col("lon") <= F.col("east"))
        & (F.col("lat") >= F.col("south"))
        & (F.col("lat") <= F.col("north"))
    ).groupBy("n_nationkey").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").alias("value_cents"),
    )
    return (
        regions.select("n_nationkey", "n_name")
        .join(F.broadcast(matched), "n_nationkey", "left")
        .select(
            "n_nationkey",
            "n_name",
            F.coalesce("n_points", F.lit(0)).alias("n_points"),
            F.coalesce("value_cents", F.lit(0)).alias("value_cents"),
        )
    )


_MODE_ORACLE = """
WITH c AS (
  SELECT o_orderstatus, o_orderpriority, count(*) AS n
  FROM orders GROUP BY 1, 2)
SELECT o_orderstatus,
       o_orderpriority AS mode_priority,
       n AS mode_count
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY o_orderstatus
           ORDER BY n DESC, o_orderpriority ASC) AS rn
  FROM c)
WHERE rn = 1
"""


@register("agg_mode_priority_by_status", _MODE_ORACLE)
def agg_mode_priority_by_status(spark, sf_dir):
    """Deterministic MODE per group: the most frequent order priority
    per status, ties broken by value (count desc, value asc) — Spark's
    native ``mode()`` aggregate is explicitly non-deterministic on
    ties, so the catalog form is the two-stage shape that IS: a
    partial-aggregable (group, value) count, then a rank-1 window over
    group-cardinality rows (WindowGroupLimit pushes the top-1 into the
    shuffle).  The same shape yields top-k modes by changing the rank
    bound."""
    orders = _t(spark, sf_dir, "orders")
    c = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


_EQUIDEPTH_ORACLE = """
WITH ranked AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         ntile(16) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
           AS bucket
  FROM lineitem)
SELECT bucket, count(*) AS n_rows,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM ranked GROUP BY 1
"""


@register("analytics_equidepth_histogram_price", _EQUIDEPTH_ORACLE)
def analytics_equidepth_histogram_price(spark, sf_dir):
    """Exact 16-bucket equi-depth histogram of ``l_extendedprice`` —
    the feature-binning / data-profiling primitive (equal COUNT per
    bucket, data-driven boundaries; the dual of the equal-WIDTH
    histogram a fixed ``floor(x/step)`` gives).  ``ntile`` assigns
    ranks to buckets with the standard remainder rule (first
    ``n mod 16`` buckets take one extra row), so with a total order
    made unique by the (orderkey, linenumber) tiebreak both engines
    produce identical buckets, and boundaries report as integer cents.

    Scale shape: a naive ``ntile`` over an unpartitioned window is a
    SINGLE-TASK global sort (the round-9 scaling probe measured 13x
    time over the top 10x decade before this shape landed).  Instead,
    ``operators.rank.distributed_ntile``: range-repartition on the sort
    key (a sampled-boundary DISTRIBUTED sort), per-partition local
    ``row_number`` (bounded windows), and a broadcast of per-partition
    offsets turns local ranks into exact global ranks; the ntile bucket
    is then closed-form integer arithmetic on the rank (first
    ``n mod 16`` buckets take ``base + 1`` rows), reproducing
    ``ntile(16)`` bit-for-bit with no single task ever holding the full
    order.  Catalyst reuses the one range exchange for both the offsets
    pass and the rank pass (ReusedExchange).  At 100 TB the same output
    shape also comes from
    ``approx_percentile`` boundaries + one broadcast bucket-assign
    scan, trading exactness for a sortless plan — this entry is the
    exact baseline that approximate twin is judged against."""
    from label_maker_dask_spark.operators.rank import distributed_ntile

    li = _t(spark, sf_dir, "lineitem")
    cols = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    d = li.select(
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("cents"),
        *cols,
    )
    return (
        distributed_ntile(d, 16, cols)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
    )
