"""Scale-technique catalog extensions.

Operators a 100 TB pipeline reaches for, each with a hash-matched
DuckDB oracle:

- ``join_bloom_pruned_order_revenue`` — runtime bloom-filter join
  pruning (``operators/bloom.py``): a selective dim predicate builds a
  bloom filter over surviving join keys; the fact side is filtered in
  its scan stage *before* the join shuffle.  Result-invariant, so the
  oracle is the plain join.
- ``graph_khop_reachability`` — 3-hop BFS over the event-type
  transition graph (min hop count + path count per reachable node),
  unrolled into broadcast joins against the tiny persisted edge list.
- ``timeseries_gapfill_interpolated`` — linear interpolation on a dense
  date spine between sparse observations (prev/next located with
  IGNORE NULLS window frames), with forward/backward fill at the edges.
- ``profile_orders_columns`` — column profiler: per-column null
  counts, KMV distinct estimates, canonical min/max strings, and
  rounded means in two whole-stage-codegen passes (stats + hash; the
  query docstring records the slower shapes measured and rejected).
- ``timeseries_rolling_corr_views_purchases`` — trailing 14-day Pearson
  correlation between two daily series, computed from EXACT INTEGER
  window sums (n, Sx, Sy, Sxx, Syy, Sxy) with the corr formula applied
  as one scalar double expression — the same determinism discipline as
  the quantized PageRank: the only order-sensitive step (the window
  SUM) is order-free integer addition, so DuckDB replays it
  bit-for-bit, where a native streaming ``corr`` aggregate (Welford
  updates) would leak summation order into the ulps.
- ``timeseries_rolling_slope_daily_revenue`` — trailing 14-day OLS
  trend from the same exact-integer-window-sums discipline.
- ``agg_heavy_hitters_users`` — exact frequent items at a sketch's
  shuffle cost (``operators/heavy.py``).

None of these exist in the reference (`/root/reference/` has no joins,
graphs, time series, or table statistics — main.py:90-97 is a per-tile
map); all are Part-B engine surface.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.timeutil import epoch_micros
from label_maker_dask_spark.operators.materialize import materialize
from label_maker_dask_spark.operators.bloom import bloom_pruned_join
from label_maker_dask_spark.queries_shared import EDGES_CTE as _EDGES_CTE
from label_maker_dask_spark.queries_shared import _t, register, session_tmpdir

_BLOOM_JOIN_ORACLE = """
SELECT c.c_custkey,
       c.c_name,
       round(sum(o.o_totalprice), 2) AS revenue,
       count(*) AS n_orders
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_acctbal > 9900
GROUP BY 1, 2
"""


@register("join_bloom_pruned_order_revenue", _BLOOM_JOIN_ORACLE)
def join_bloom_pruned_order_revenue(spark, sf_dir):
    """Revenue per high-balance customer, with the orders fact side
    bloom-pruned before the join.

    The dim predicate (``c_acctbal > 9900``) keeps ~1% of customers; a
    plain shuffled join would still shuffle every orders row.  The bloom
    filter over surviving ``c_custkey`` values is evaluated in the
    orders scan stage (pure column algebra on a hex literal — see
    ``operators/bloom.py``), so ~99% of the fact never reaches an
    exchange.  False positives are removed by the exact join: the DuckDB
    oracle is the *plain* join, which is the whole point —
    result-invariant pruning.

    Scale shape: build side is dim-sized (ONE aggregation job, <=3 tiny
    rows per key to the driver, folded to the target size there); probe
    side stays in whole-stage codegen.  At 100 TB the fact shuffle
    shrinks by the dim predicate's selectivity.
    """
    customer = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9900)
    orders = _t(spark, sf_dir, "orders")
    dim = customer.select("c_custkey", "c_name")
    return (
        bloom_pruned_join(orders, dim, "o_custkey", "c_custkey")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_KHOP_ORACLE = f"""
WITH {_EDGES_CTE},
probs AS (
  SELECT src, dst,
         round(w / (sum(w) OVER (PARTITION BY src)), 6) AS p
  FROM edges),
strong AS (SELECT src, dst FROM probs WHERE p > 0.2),
hop1 AS (SELECT dst, 1 AS hops FROM strong WHERE src = 'signup'),
hop2 AS (SELECT e.dst, 2 AS hops FROM hop1 h JOIN strong e ON e.src = h.dst),
hop3 AS (SELECT e.dst, 3 AS hops FROM hop2 h JOIN strong e ON e.src = h.dst),
paths AS (
  SELECT * FROM hop1
  UNION ALL SELECT * FROM hop2
  UNION ALL SELECT * FROM hop3)
SELECT dst, min(hops) AS min_hops, count(*) AS n_paths
FROM paths GROUP BY dst
"""


@register("graph_khop_reachability", _KHOP_ORACLE)
def graph_khop_reachability(spark, sf_dir):
    """Nodes reachable from 'signup' within 3 hops along *strong* edges
    (transition probability > 0.2, i.e. above uniform), with the minimum
    hop count and the number of distinct paths.

    BFS unrolled to three broadcast joins: the edge list (built once —
    one user-partitioned lag window + a hash agg onto #event-types²
    keys — then persisted) has at most k² rows, so every hop is a
    broadcast join between frames whose size is graph-sized, never
    event-volume-sized.  The same unrolling discipline as PageRank
    (queries_graph_ext.py): pay the event scan once, iterate on the
    tiny derived graph.
    """
    ev = _t(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy(epoch_micros("ts"), "event_id")
    edges = (
        ev.select(
            F.lag("event_type").over(wseq).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    wsrc = Window.partitionBy("src")
    strong = (
        edges.select(
            "src",
            "dst",
            F.round(F.col("w") / F.sum("w").over(wsrc), 6).alias("p"),
        )
        .where(F.col("p") > 0.2)
        .select("src", "dst")
        # lazy localCheckpoint, not persist(): the BFS below references
        # this derived graph once per hop, and checkpoint blocks are
        # GC-released instead of pinned in the cache manager.  Cluster
        # fault-tolerance knob: operators/materialize.py.
        .transform(materialize)
    )
    return khop_reachability(strong, "signup", max_hops=3)


def khop_reachability(edges, seed, max_hops=3):
    """Unrolled BFS over an ``(src, dst)`` edge DataFrame: nodes
    reachable from ``seed`` within ``max_hops``, with the minimum hop
    count and the number of distinct paths.  Each hop is a broadcast
    join against the (small, graph-sized) edge list — callers hand in a
    *derived* graph (event-type transitions, dedup-cluster adjacency),
    never raw event-volume rows, and should persist it."""
    frontier = edges.where(F.col("src") == seed).select(
        "dst", F.lit(1).alias("hops")
    )
    paths = frontier
    for hop in range(2, max_hops + 1):
        frontier = (
            frontier.alias("h")
            .join(
                F.broadcast(edges.alias("e")),
                F.col("h.dst") == F.col("e.src"),
            )
            .select(F.col("e.dst").alias("dst"), F.lit(hop).alias("hops"))
        )
        paths = paths.unionByName(frontier)
    return paths.groupBy("dst").agg(
        F.min("hops").alias("min_hops"),
        F.count(F.lit(1)).alias("n_paths"),
    )


_INTERP_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS rev
  FROM orders WHERE o_totalprice > 450000 GROUP BY 1),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds),
located AS (
  SELECT s.day, d.rev,
         last_value(d.rev IGNORE NULLS) OVER (
           ORDER BY s.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_prev,
         last_value(CASE WHEN d.rev IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER (ORDER BY s.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d_prev,
         first_value(d.rev IGNORE NULLS) OVER (
           ORDER BY s.day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
         first_value(CASE WHEN d.rev IS NOT NULL THEN s.day END IGNORE NULLS)
           OVER (ORDER BY s.day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d_next
  FROM spine s LEFT JOIN daily d USING (day))
SELECT CAST(day AS TIMESTAMP) AS day,
       CAST(round(CASE
         WHEN rev IS NOT NULL THEN rev
         WHEN v_prev IS NULL THEN v_next
         WHEN v_next IS NULL THEN v_prev
         ELSE v_prev + (v_next - v_prev)
              * date_diff('day', d_prev, day)
              / date_diff('day', d_prev, d_next)
       END, 0) AS BIGINT) AS revenue_interp_cents,
       CASE WHEN rev IS NOT NULL THEN 1 ELSE 0 END AS observed
FROM located
"""


@register("timeseries_gapfill_interpolated", _INTERP_ORACLE)
def timeseries_gapfill_interpolated(spark, sf_dir):
    """Linear interpolation of a sparse daily series onto a dense date
    spine: gap days get ``v_prev + (v_next - v_prev) * elapsed/span``;
    the leading/trailing edges fall back to backward/forward fill.

    The sparse series is daily revenue from only the largest orders
    (totalprice > 450k, ~1.5k rows over ~2.4k days), so real gaps exist
    and the interpolation arithmetic is actually exercised.  Arithmetic
    runs in INTEGER CENTS: at 2 decimals the interpolated value lands on
    exact .xx5 ties (span 2 between observations), where Spark's HALF_UP
    and DuckDB's double rounding disagree through representation error;
    in cents the only ties are exact doubles both engines round away
    from zero identically, and non-tie quotients (denominator = gap
    span) sit >= 1/(2*span) from the boundary — far beyond an ulp.

    Scale shape: same posture as ``timeseries_gapfill_daily_revenue`` —
    the fact scan collapses to one row per observed day map-side before
    anything else; the spine join and all four locator windows run over
    date-cardinality rows (~900 here, ~36.5k for a century), so the
    unpartitioned windows never see fact-table cardinality.
    """
    orders = _t(spark, sf_dir, "orders")
    # daily feeds the spine bounds AND the spine join — checkpoint the
    # date-cardinality rollup so the fact scan + agg runs once (r18)
    daily = (
        orders.where(F.col("o_totalprice") > 450000)
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.round(F.sum("o_totalprice") * 100, 0)
            .cast("long")
            .alias("rev")
        )
        .localCheckpoint(eager=False)
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    joined = spine.join(daily, "day", "left")
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    w_next = Window.orderBy("day").rowsBetween(0, Window.unboundedFollowing)
    obs_day = F.when(F.col("rev").isNotNull(), F.col("day"))
    located = joined.select(
        "day",
        "rev",
        F.last("rev", ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("d_prev"),
        F.first("rev", ignorenulls=True).over(w_next).alias("v_next"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("d_next"),
    )
    interp = (
        F.when(F.col("rev").isNotNull(), F.col("rev"))
        .when(F.col("v_prev").isNull(), F.col("v_next"))
        .when(F.col("v_next").isNull(), F.col("v_prev"))
        .otherwise(
            F.col("v_prev")
            + (F.col("v_next") - F.col("v_prev"))
            * F.datediff("day", "d_prev")
            / F.datediff("d_next", "d_prev")
        )
    )
    return located.select(
        F.col("day").cast("timestamp").alias("day"),
        F.round(interp, 0).cast("long").alias("revenue_interp_cents"),
        F.when(F.col("rev").isNotNull(), 1).otherwise(0).alias("observed"),
    )


#: (name, kind) per profiled orders column; kind drives the canonical
#: min/max string form and whether a mean is defined.
_PROFILE_COLS = [
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "string"),
    ("o_totalprice", "double"),
    ("o_orderdate", "timestamp"),
    ("o_orderpriority", "string"),
]


_KMV_K = 256


def _profile_oracle() -> str:
    from label_maker_dask_spark.functions.text import (
        HASH_P,
        char_poly_hash_sql,
    )

    aggs, selects, vals = [], [], []
    for name, kind in _PROFILE_COLS:
        aggs.append(f"count({name}) AS nn_{name}")
        if kind == "long":
            aggs.append(f"CAST(min({name}) AS VARCHAR) AS lo_{name}")
            aggs.append(f"CAST(max({name}) AS VARCHAR) AS hi_{name}")
            aggs.append(f"round(avg({name}), 4) AS mean_{name}")
        elif kind == "double":
            aggs.append(
                f"CAST(CAST(min({name}) AS DECIMAL(14,2)) AS VARCHAR)"
                f" AS lo_{name}"
            )
            aggs.append(
                f"CAST(CAST(max({name}) AS DECIMAL(14,2)) AS VARCHAR)"
                f" AS hi_{name}"
            )
            aggs.append(f"round(avg({name}), 4) AS mean_{name}")
        elif kind == "timestamp":
            aggs.append(
                f"CAST(CAST(min({name}) AS DATE) AS VARCHAR) AS lo_{name}"
            )
            aggs.append(
                f"CAST(CAST(max({name}) AS DATE) AS VARCHAR) AS hi_{name}"
            )
            aggs.append(f"CAST(NULL AS DOUBLE) AS mean_{name}")
        else:
            aggs.append(f"min({name}) AS lo_{name}")
            aggs.append(f"max({name}) AS hi_{name}")
            aggs.append(f"CAST(NULL AS DOUBLE) AS mean_{name}")
        selects.append(
            f"SELECT '{name}' AS col_name, n_rows, nn_{name} AS n_nonnull, "
            f"lo_{name} AS min_value, hi_{name} AS max_value, "
            f"mean_{name} AS mean_value FROM s"
        )
        # KMV hash input mirrors the Spark side: integer arithmetic for
        # numeric/temporal kinds, char fold only for strings
        if kind == "long":
            raw = f"(({name} % {HASH_P}) + {HASH_P}) % {HASH_P}"
        elif kind == "double":
            raw = (
                f"((CAST(round({name} * 100, 0) AS BIGINT) % {HASH_P}) "
                f"+ {HASH_P}) % {HASH_P}"
            )
        elif kind == "timestamp":
            raw = f"((epoch_us({name}) % {HASH_P}) + {HASH_P}) % {HASH_P}"
        else:
            raw = char_poly_hash_sql(name)
        vals.append(
            f"SELECT '{name}' AS col_name, {raw} AS raw "
            f"FROM orders WHERE {name} IS NOT NULL"
        )
    return (
        "WITH s AS (SELECT count(*) AS n_rows, "
        + ", ".join(aggs)
        + " FROM orders), "
        + "stacked AS (" + " UNION ALL ".join(selects) + "), "
        + "vals AS (" + " UNION ALL ".join(vals) + "), "
        + "hashed AS (SELECT DISTINCT col_name, "
        + f"(m * m % {HASH_P}) * m % {HASH_P} AS h FROM "
        + f"(SELECT col_name, (raw * 236887691 + 1013904223) % {HASH_P} "
        + "AS m FROM vals)), "
        + "ranked AS (SELECT col_name, h, row_number() OVER "
        + "(PARTITION BY col_name ORDER BY h) AS rn FROM hashed), "
        + "ndv AS (SELECT col_name, max(h) AS kth, count(*) AS n_seen "
        + f"FROM ranked WHERE rn <= {_KMV_K} GROUP BY col_name) "
        + "SELECT t.col_name, t.n_rows, t.n_nonnull, "
        # LEFT join + coalesce: a column whose values are all NULL has no
        # vals/ndv rows; it must still profile (ndv 0.0), not vanish
        + f"coalesce(CASE WHEN n.n_seen < {_KMV_K} "
        + "THEN CAST(n.n_seen AS DOUBLE) "
        + f"ELSE round({(_KMV_K - 1) * HASH_P} / n.kth, 6) END, 0.0) "
        + "AS n_distinct_kmv, "
        + "t.min_value, t.max_value, t.mean_value "
        + "FROM stacked t LEFT JOIN ndv n USING (col_name)"
    )


@register("profile_orders_columns", _profile_oracle())
def profile_orders_columns(spark, sf_dir):
    """Column profiler over ``orders``: per column, the null count, a
    KMV distinct estimate (EXACT below k=256 distinct values — so the
    low-cardinality columns report true counts — deterministic bottom-k
    estimate above), canonical min/max strings (decimal form for
    doubles, date form for timestamps — both engines print these
    identically), and the rounded mean for numeric columns.

    Scale shape: three bounded, column-pruned passes over the fact
    table — the stats scan reads every column once, and each column's
    NDV hashing re-reads it in exactly one of the two KMV scans, so
    total column IO is ~two full scans (never one scan per column) —
    all inside whole-stage codegen.

    - Pass 1 is ONE hash aggregation computing every count/min/max/mean
      (all partial-aggregable), unpivoted to one row per column with
      ``stack``.
    - Pass 2 computes numeric/temporal NDV hashes with pure INTEGER
      arithmetic (value / cents / epoch-micros mod P,
      squared-and-folded), collapsed map-side via ``distinct``
      (codegen hash agg); the k smallest per column then emerge in two
      window phases — bottom-k per (column, salt bucket), then
      bottom-k of the <= 64k survivors — so no task ever owns a
      column's whole distinct set (bottom-k of a set is
      partition-invariant, so the two-phase result equals a global
      sort).
    - Pass 3 handles the string columns: DISTINCT THE RAW VALUE FIRST
      (partial aggregation collapses to per-column NDV rows before the
      shuffle), then the interpreted cross-engine char fold
      (``functions/text.py``) runs over only the survivors — NDV
      evaluations instead of one per fact row.

    Shapes measured and rejected at sf0.1 (the docstring is the lab
    notebook; this shape runs 2.5 s warm, noop-sink action): the
    planner's multi-``count(distinct)`` Expand rewrite (6 s —
    SortAggregate over the expanded fan-out); a shared-scan variant
    folding pass 2's bottom-k into pass 1's unpivot via ``collect_set``
    per (column, salt) — ONE FileScan, but the ``collect_set`` drags
    all 13 aggregates into interpreted ObjectHashAggregate over the
    9M-row unpivot (6.1 s; the parquet scan it saves costs ~0.2 s); an
    unrolled substring/ascii Horner chain for the string hashes (UTF8
    ``substring`` is O(position), so 16 slots re-scan the string —
    2.9 s vs 2.0 s for the interpreted fold on the two string columns).
    Hashing the four numeric/temporal columns as canonical STRINGS was
    the original sin (4.6 s total) — their integer folds are ~0.3 s.
    Folding the two string columns per FACT row was the next floor
    (2 s of the 3.9 s shape); a conditional fold after a combined
    6-column distinct still cost 1.1 s (the If+HOF projection drops
    out of codegen and pays a second full-width exchange) — the
    distinct-raw-first string pass removed both.

    The estimate ``(k-1) * P / kth_smallest`` is the same formula as
    ``operators/pipeline.kmv_distinct`` — a pure function of the data,
    replayed bit-for-bit by the DuckDB oracle, err ~ 1/sqrt(k) ~ 6%.
    A column whose values are all NULL still profiles (NULL min/max,
    ndv 0.0): pass 2 has no row for it, and the final join is LEFT +
    coalesce — the one-row-per-column contract survives degenerate
    data.
    """
    from label_maker_dask_spark.functions.text import HASH_P, char_poly_hash

    orders = _t(spark, sf_dir, "orders")

    A, B = 236_887_691, 1_013_904_223

    def fold(raw):
        # affine premix then cube mod P: the premix equidistributes
        # structured inputs (sequential keys, cents, epoch micros —
        # whose raw cubes are monotone for small values and would skew
        # the KMV bottom-k), and both maps are BIJECTIONS mod P
        # (gcd(3, P-1) = 1), so distinct values keep distinct hashes;
        # identical integer arithmetic in both engines
        raw = (raw * A + B) % HASH_P
        return (raw * raw % HASH_P) * raw % HASH_P

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    hv_structs = []
    for name, kind in _PROFILE_COLS:
        c = F.col(name)
        aggs.append(F.count(c).alias(f"nn_{name}"))
        if kind == "long":
            aggs.append(F.min(c).cast("string").alias(f"lo_{name}"))
            aggs.append(F.max(c).cast("string").alias(f"hi_{name}"))
            aggs.append(F.round(F.avg(c), 4).alias(f"mean_{name}"))
            hv = fold(F.pmod(c, F.lit(HASH_P)))
        elif kind == "double":
            aggs.append(
                F.min(c).cast("decimal(14,2)").cast("string").alias(
                    f"lo_{name}"
                )
            )
            aggs.append(
                F.max(c).cast("decimal(14,2)").cast("string").alias(
                    f"hi_{name}"
                )
            )
            aggs.append(F.round(F.avg(c), 4).alias(f"mean_{name}"))
            hv = fold(
                F.pmod(F.round(c * 100, 0).cast("long"), F.lit(HASH_P))
            )
        elif kind == "timestamp":
            aggs.append(
                F.min(c).cast("date").cast("string").alias(f"lo_{name}")
            )
            aggs.append(
                F.max(c).cast("date").cast("string").alias(f"hi_{name}")
            )
            aggs.append(F.lit(None).cast("double").alias(f"mean_{name}"))
            hv = fold(F.pmod(epoch_micros(name), F.lit(HASH_P)))
        else:
            aggs.append(F.min(c).alias(f"lo_{name}"))
            aggs.append(F.max(c).alias(f"hi_{name}"))
            aggs.append(F.lit(None).cast("double").alias(f"mean_{name}"))
            # string columns DEFER hashing to after the distinct: the
            # struct carries the raw value, and the interpreted char
            # fold runs only on the per-column distinct survivors (NDV
            # rows, not fact rows) — see `hashed` below
            hv = None
        hv_structs.append(
            F.struct(
                F.lit(name).alias("col_name"),
                (
                    F.lit(None).cast("long")
                    if hv is None
                    else hv.cast("long")
                ).alias("h"),
                (c if hv is None else F.lit(None).cast("string")).alias(
                    "raw"
                ),
            )
        )
    stats = orders.agg(*aggs)
    parts = []
    for name, _ in _PROFILE_COLS:
        parts.append(
            f"'{name}', nn_{name}, lo_{name}, hi_{name}, mean_{name}"
        )
    stacked = stats.selectExpr(
        "n_rows",
        f"stack({len(_PROFILE_COLS)}, {', '.join(parts)}) AS "
        "(col_name, n_nonnull, min_value, max_value, mean_value)",
    )

    # numeric/temporal columns: integer hashes per fact row, collapsed
    # by a codegen distinct (the hash is cheap column math)
    num_structs = [
        s
        for s, (_, k) in zip(hv_structs, _PROFILE_COLS)
        if k != "string"
    ]
    num_hashed = (
        orders.select(F.explode(F.array(*num_structs)).alias("p"))
        .select("p.col_name", "p.h")
        .where(F.col("h").isNotNull())
        .distinct()
    )
    # string columns: distinct the RAW value first (a codegen hash agg
    # whose partial aggregation collapses to per-column-NDV rows
    # map-side), THEN run the interpreted char fold over the survivors
    # — folding strings per fact row was the 2 s floor the lab
    # notebook below records.  This pass's scan prunes to just the
    # string columns, so total column IO across the scans is
    # unchanged.  The post-fold dropDuplicates collapses fold
    # collisions over the tiny survivor set, matching the oracle's
    # DISTINCT-over-hashes set semantics (the numeric path dedupes
    # after hashing for the same reason).
    str_structs = [
        s
        for s, (_, k) in zip(hv_structs, _PROFILE_COLS)
        if k == "string"
    ]
    str_hashed = (
        orders.select(F.explode(F.array(*str_structs)).alias("p"))
        .select("p.col_name", "p.raw")
        .where(F.col("raw").isNotNull())
        .distinct()
        .select(
            "col_name",
            fold(char_poly_hash(F.col("raw"))).cast("long").alias("h"),
        )
        .dropDuplicates(["col_name", "h"])
    )
    hashed = num_hashed.union(str_hashed)
    # two-phase bottom-k: per (column, salt) then per column — identical
    # to a global bottom-k, but no task sees a whole column's hash set
    w1 = Window.partitionBy("col_name", F.pmod(F.col("h"), F.lit(64))).orderBy(
        "h"
    )
    survivors = (
        hashed.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= _KMV_K)
        .drop("rn")
    )
    w2 = Window.partitionBy("col_name").orderBy("h")
    ndv = (
        survivors.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("col_name")
        .agg(F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_seen"))
        .select(
            "col_name",
            F.when(F.col("n_seen") < _KMV_K, F.col("n_seen").cast("double"))
            .otherwise(
                F.round(F.lit((_KMV_K - 1) * HASH_P) / F.col("kth"), 6)
            )
            .alias("n_distinct_kmv"),
        )
    )
    return stacked.join(F.broadcast(ndv), "col_name", "left").select(
        "col_name",
        "n_rows",
        "n_nonnull",
        F.coalesce("n_distinct_kmv", F.lit(0.0)).alias("n_distinct_kmv"),
        "min_value",
        "max_value",
        "mean_value",
    )


_ROLLCORR_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS x,
         CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
  FROM events
  WHERE event_type IN ('view', 'purchase')
  GROUP BY 1),
sums AS (
  SELECT day, x, y,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy,
         sum(x * y) OVER w AS sxy
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT day, x AS views, y AS purchases, CAST(n AS BIGINT) AS n_days,
       CASE WHEN n >= 14
                 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN round(
              CAST(n * sxy - sx * sy AS DOUBLE)
              / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                     * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS rolling_corr
FROM sums
"""


@register("timeseries_rolling_corr_views_purchases", _ROLLCORR_ORACLE)
def timeseries_rolling_corr_views_purchases(spark, sf_dir):
    """Trailing 14-day Pearson correlation between daily view and
    purchase volumes, from exact integer window sums.

    A native windowed ``corr`` aggregate accumulates doubles in
    window-iteration order (Welford/moment updates), so its low bits
    differ between engines — un-oracle-able.  Here the window computes
    only INTEGER sums (n, Sx, Sy, Sxx, Syy, Sxy — order-free, exact),
    and the correlation  (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx²)(n*Syy -
    Sy²))  is one scalar double expression over those exact integers:
    bit-identical across engines, rounded at 6.  Guards: emitted only
    for full 14-day windows with nonzero variance on both sides.

    Scale shape: the event scan collapses map-side to one row per day
    (two conditional counts in one pass); the window runs over
    date-cardinality rows.  The bigint moments hold exactly up to ~1e8
    events/day (Sx² < 2**63); beyond that, widen to double before the
    products — the formula is unchanged.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count(F.when(F.col("event_type") == "view", 1)).alias("x"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    sums = daily.select(
        "day",
        "x",
        "y",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    cov = n * F.col("sxy") - sx * sy
    corr = F.round(
        cov.cast("double") / F.sqrt(vx.cast("double") * vy.cast("double")), 6
    )
    return sums.select(
        "day",
        F.col("x").alias("views"),
        F.col("y").alias("purchases"),
        n.cast("long").alias("n_days"),
        F.when((n >= 14) & (vx > 0) & (vy > 0), corr).alias("rolling_corr"),
    )


_ROLLSLOPE_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1),
xy AS (
  SELECT day, rev_cents,
         CAST(date_diff('day', DATE '1970-01-01', day) AS BIGINT) AS x,
         rev_cents AS y
  FROM daily),
sums AS (
  SELECT day, rev_cents,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * x) OVER w AS sxx, sum(x * y) OVER w AS sxy
  FROM xy
  WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
SELECT CAST(day AS TIMESTAMP) AS day, rev_cents,
       CAST(n AS BIGINT) AS n_days,
       CASE WHEN n >= 14 AND (n * sxx - sx * sx) > 0
            THEN round(
              CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE), 6)
       END AS slope_cents_per_day
FROM sums
"""


@register("timeseries_rolling_slope_daily_revenue", _ROLLSLOPE_ORACLE)
def timeseries_rolling_slope_daily_revenue(spark, sf_dir):
    """Trailing 14-day ordinary-least-squares revenue trend (cents/day),
    from exact integer window sums — the regression sibling of
    ``timeseries_rolling_corr_views_purchases`` and the same determinism
    discipline: a native streaming ``regr_slope`` accumulates doubles in
    window order (un-oracle-able low bits); here the window computes
    only integer sums (n, Sx, Sy, Sxx, Sxy over x = epoch-day, y =
    cents) and the slope (n*Sxy - Sx*Sy) / (n*Sxx - Sx²) is one scalar
    double expression over exact integers, rounded at 6.

    Scale shape: the orders scan collapses map-side to one row per day;
    the window runs over date-cardinality rows.  The bigint moments
    hold exactly to ~1e9 cents/day x 20k epoch-days x 14 (< 2^63);
    widen to double before the products past that.
    """
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.round(F.sum("o_totalprice") * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    x = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast(
        "long"
    )
    xy = daily.select("day", "rev_cents", x.alias("x"),
                      F.col("rev_cents").alias("y"))
    w = Window.orderBy("day").rowsBetween(-13, 0)
    sums = xy.select(
        "day",
        "rev_cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    den = n * F.col("sxx") - sx * sx
    num = n * F.col("sxy") - sx * sy
    slope = F.round(num.cast("double") / den.cast("double"), 6)
    return sums.select(
        F.col("day").cast("timestamp").alias("day"),
        "rev_cents",
        n.cast("long").alias("n_days"),
        F.when((n >= 14) & (den > 0), slope).alias("slope_cents_per_day"),
    )


_HEAVY_ORACLE = """
WITH total AS (SELECT count(*) AS t FROM events)
SELECT user_id AS item, count(*) AS n_rows, max(t) AS total_rows
FROM events, total
GROUP BY user_id
HAVING count(*) * 120 > max(t)
"""


@register("agg_heavy_hitters_users", _HEAVY_ORACLE)
def agg_heavy_hitters_users(spark, sf_dir):
    """Users generating more than 1/120 of all events — EXACT heavy
    hitters at a sketch's shuffle cost (``operators/heavy.py``): an
    Arrow-batched Misra-Gries-style candidate pass shuffles only
    per-chunk survivors (O(chunks x k), never O(distinct users) — the
    pigeonhole guarantees no true heavy hitter is missed), then one
    exact counting pass over the candidate-filtered fact.  The
    threshold test is integer arithmetic (n*k > total), so the plain
    exact-SQL oracle matches bit-for-bit."""
    from label_maker_dask_spark.operators.heavy import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", k=120).withColumnRenamed(
        "item", "item"
    )


#: 3x the published relative standard error of a HyperLogLog sketch at
#: Spark's default ``lgConfigK = 12`` (RSE = 1.04 / sqrt(2^12) ~ 1.6%);
#: a ~99.7% envelope.  The absolute floor of 16 covers integer rounding
#: at tiny counts (where the sketch is in sparse mode and near-exact).
_HLL_3RSE = 3 * 1.04 / float(2**12) ** 0.5

_HLL_BOUND_ORACLE = """
WITH exact AS (
  SELECT date_trunc('week', date_trunc('day', ts)) AS week,
         count(DISTINCT date_trunc('day', ts)) AS n_days,
         count(DISTINCT user_id) AS distinct_users_exact
  FROM events GROUP BY 1)
SELECT week,
       CAST(n_days AS BIGINT) AS n_days,
       CAST(distinct_users_exact AS BIGINT) AS distinct_users_exact,
       TRUE AS hll_within_3rse
FROM exact
"""


@register("agg_hll_sketch_weekly_users", _HLL_BOUND_ORACLE)
def agg_hll_sketch_weekly_users(spark, sf_dir):
    """Weekly distinct users from MERGED DAILY HLL SKETCHES — the
    native DataSketches twin of ``agg_kmv_merged_weekly_users``: daily
    ``hll_sketch_agg`` sketches union losslessly to any coarser grain
    (``hll_union_agg``) without rescanning the fact, the production
    pattern for maintained distinct-count rollups (store the daily
    sketch column; answer any window by merging).

    HLL register layouts are implementation-defined (Spark's
    DataSketches vs DuckDB's own HLL differ bitwise), so the raw
    estimate can never hash-match a cross-engine oracle — the
    deterministic KMV twin exists for that, and IS hash-gated.  What
    CAN be gated cross-engine is the sketch's accuracy CONTRACT, so
    this entry emits it as data: ``hll_within_3rse`` asserts the merged
    weekly estimate sits within 3 RSE (the ~99.7% envelope implied by
    the default lgK=12) of the exact distinct count, and the oracle
    replays the exact counts + a literal TRUE — a wrong estimate, a
    broken union, or a week/day drift all hash-mismatch.  Merge
    losslessness (merged == direct weekly sketch) is additionally
    pinned in tests/test_scale_ext.py."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    daily = ev.groupBy(day.alias("day")).agg(
        # lgConfigK pinned to 12 so the sketch config can never drift
        # from the _HLL_3RSE envelope the oracle hash depends on (it is
        # also Spark's current default, but the bound must not ride an
        # engine default)
        F.hll_sketch_agg("user_id", 12).alias("sk")
    )
    weekly = daily.groupBy(F.date_trunc("week", "day").alias("week")).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("est"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy(F.date_trunc("week", day).alias("week")).agg(
        F.countDistinct("user_id").alias("distinct_users_exact")
    )
    err = F.abs(F.col("est") - F.col("distinct_users_exact"))
    bound = F.greatest(
        F.lit(16),
        F.ceil(F.col("distinct_users_exact") * F.lit(_HLL_3RSE)),
    )
    return weekly.join(exact, "week").select(
        "week",
        "n_days",
        "distinct_users_exact",
        (err <= bound).alias("hll_within_3rse"),
    )


def _ema_oracle(span: int = 30, alpha: float = 2.0 / 31.0) -> str:
    terms = []
    for j in range(span):
        w = repr(alpha * (1.0 - alpha) ** j)
        terms.append(f"{w} * coalesce(lag(rev_cents, {j}) OVER w, 0)")
    wsum = []
    for j in range(span):
        wsum.append(
            f"{alpha * (1.0 - alpha) ** j!r}"
            f" * (CASE WHEN lag(rev_cents, {j}) OVER w IS NULL"
            " THEN 0.0 ELSE 1.0 END)"
        )
    num = " + ".join(terms)
    den = " + ".join(wsum)
    return f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1),
    e AS (
      SELECT CAST(day AS TIMESTAMP) AS day, rev_cents,
             ({num}) AS num, ({den}) AS den
      FROM daily
      WINDOW w AS (ORDER BY day))
    SELECT day, rev_cents,
           round(num / den / 100.0, 4) AS ema30_revenue
    FROM e
    """


@register("timeseries_ema30_daily_revenue", _ema_oracle())
def timeseries_ema30_daily_revenue(spark, sf_dir):
    """30-term truncated exponential moving average of daily revenue —
    the smoothing curve every ops dashboard draws, computed so two
    engines agree bit-for-bit where a native recursive EMA cannot:

    - the recursion EMA_t = a*y_t + (1-a)*EMA_{t-1} unrolls into 30
      EXPLICIT lag terms whose weights a(1-a)^j are PYTHON-COMPUTED
      literals embedded identically in both the Column expression and
      the SQL — so every per-row product multiplies the same two
      doubles, and the 30-term sum is a fixed left-to-right chain in
      both engines (never an unordered aggregate);
    - inputs are integer cents (the daily rollup), so the only floats
      are the weights themselves;
    - early rows renormalize by the sum of PRESENT weights (the
      standard adjusted-EMA convention), built from the same literals.

    Scale shape: the fact scan collapses map-side to one row per day;
    the 30 lags share ONE date-ordered window over date-cardinality
    rows.  Truncation error vs the infinite recursion is (1-a)^30 ~
    14% of weight redistributed by the renormalization — the adjusted
    form pandas ``ewm(adjust=True)`` uses for finite histories."""
    span, alpha = 30, 2.0 / 31.0
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.round(F.sum("o_totalprice") * 100, 0)
        .cast("long")
        .alias("rev_cents")
    )
    w = Window.orderBy("day")
    num = F.lit(0.0)
    den = F.lit(0.0)
    for j in range(span):
        wj = alpha * (1.0 - alpha) ** j
        lagged = F.lag("rev_cents", j).over(w)
        num = num + F.lit(wj) * F.coalesce(lagged, F.lit(0))
        den = den + F.lit(wj) * F.when(
            lagged.isNull(), F.lit(0.0)
        ).otherwise(F.lit(1.0))
    return daily.select(
        F.col("day").cast("timestamp").alias("day"),
        "rev_cents",
        F.round(num / den / 100.0, 4).alias("ema30_revenue"),
    )


def _cms_oracle(width: int = 256, depth: int = 4) -> str:
    from label_maker_dask_spark.operators.sketch import cms_bucket_sql

    cell_selects = "\n  UNION ALL ".join(
        f"SELECT {j} AS j,"
        f" {cms_bucket_sql('user_id', j, width, kind='int')} AS bucket,"
        f" count(*) AS n FROM events GROUP BY 2"
        for j in range(depth)
    )
    probe_selects = "\n  UNION ALL ".join(
        f"SELECT user_id, n_exact, {j} AS j,"
        f" {cms_bucket_sql('user_id', j, width, kind='int')} AS bucket"
        f" FROM users"
        for j in range(depth)
    )
    return f"""
    WITH cells AS (
      {cell_selects}),
    users AS (SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1),
    probes AS (
      {probe_selects}),
    est AS (
      SELECT p.user_id, min(coalesce(c.n, 0)) AS n_cms
      FROM probes p LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
      GROUP BY 1)
    SELECT u.user_id AS item,
           CAST(u.n_exact AS BIGINT) AS n_exact,
           CAST(e.n_cms AS BIGINT) AS n_cms,
           CAST(e.n_cms - u.n_exact AS BIGINT) AS overcount
    FROM users u JOIN est e USING (user_id)
    """


@register("agg_cms_daily_merged_user_counts", _cms_oracle())
def agg_cms_daily_merged_user_counts(spark, sf_dir):
    """Per-user event counts estimated from MERGED DAILY COUNT-MIN
    SKETCHES, side-by-side with the exact counts — the mergeable
    point-query frequency summary (``operators/sketch.py``): daily
    256x4 sketches sum element-wise into the full-range sketch with no
    fact rescan (the maintained-rollup pattern: store cells per day,
    answer any range by addition), and every estimate is >= its exact
    count by construction (collisions only add).

    Hash-gated against a plain-SQL replay because the sketch is FULLY
    DETERMINISTIC: cell placement is the cross-engine polynomial hash,
    cell values are order-free integer sums, and the estimate is a min
    over four integers — no rand(), no float accumulation, no
    implementation-defined register layout (contrast the HLL entry,
    which is rows-only gated for exactly that reason).

    Scale shape: the build's explode-by-4 collapses map-side onto
    <= 1024 cells per (day, task) before the shuffle; the merged
    sketch broadcasts to the estimate join, so the distinct-user side
    never shuffles for the probe.  ``overcount`` makes the error
    band observable: at 1500 users vs 256 buckets the collisions are
    real, and the column shows exactly what the min-of-4 bound costs."""
    from label_maker_dask_spark.operators.sketch import (
        cms_build,
        cms_estimate,
        cms_merge,
    )

    ev = _t(spark, sf_dir, "events")
    daily = cms_build(
        ev.withColumn("day", F.date_trunc("day", "ts")),
        "user_id",
        width=256,
        depth=4,
        group_cols=["day"],
    )
    total = cms_merge(daily)  # full range = element-wise sum of days
    exact = ev.groupBy(F.col("user_id").alias("item")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    est = cms_estimate(total, exact, "item", width=256, depth=4)
    return est.select(
        "item",
        "n_exact",
        "n_cms",
        (F.col("n_cms") - F.col("n_exact")).alias("overcount"),
    )


@register(
    "profile_join_key_skew_lineitem",
    """
    WITH c AS (SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY 1),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS nkeys FROM c),
    top AS (SELECT l_suppkey, n FROM c ORDER BY n DESC, l_suppkey ASC
            LIMIT 20),
    r AS (SELECT l_suppkey, n,
                 row_number() OVER (ORDER BY n DESC, l_suppkey ASC) AS rank
          FROM top)
    SELECT rank, l_suppkey, CAST(n AS BIGINT) AS n_rows,
           round(n * 1.0 / tot, 6) AS share,
           nkeys AS n_distinct_keys
    FROM r, t
    """,
)
def profile_join_key_skew_lineitem(spark, sf_dir):
    """Join-key skew profiler: the 20 heaviest values of a prospective
    join/shuffle key with each one's row share and the key's distinct
    count — the diagnostic you run BEFORE picking a join strategy (a
    top key holding >1% of a 100 TB fact is the signal to reach for
    ``operators/skew.py``'s salted join or AQE skew handling).  Scale
    shape: one map-side-collapsing count per key, a 2-field broadcast
    total, and orderBy+limit for the top-20 (TakeOrderedAndProject —
    never a full sort); the rank window runs on the already-limited
    20-row frame."""
    li = _t(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    totals = counts.agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("nkeys"),
    )
    top = counts.orderBy(
        F.col("n").desc(), F.col("l_suppkey").asc()
    ).limit(20)
    w = Window.orderBy(F.col("n").desc(), F.col("l_suppkey").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .crossJoin(F.broadcast(totals))
        .select(
            "rank",
            "l_suppkey",
            F.col("n").alias("n_rows"),
            F.round(F.col("n") / F.col("tot"), 6).alias("share"),
            F.col("nkeys").alias("n_distinct_keys"),
        )
    )


# ---------------------------------------------------------------------------
# Adversarial skew under the oracle gate: the mitigation paths proven on
# CONSTRUCTED hot keys, not just the ladder's naturally mild skew
# ---------------------------------------------------------------------------

_HOTKEY_SALTED_ORACLE = """
WITH f AS (
  SELECT CASE WHEN l_orderkey % 10 < 3 THEN 1 ELSE l_suppkey END AS skey,
         CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8)) AS rev
  FROM lineitem)
SELECT s_name,
       CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM f JOIN supplier ON s_suppkey = skey
GROUP BY s_name
"""


@register("join_skew_salted_hotkey_adversarial", _HOTKEY_SALTED_ORACLE)
def join_skew_salted_hotkey_adversarial(spark, sf_dir):
    """The salted join under CONSTRUCTED skew: ~30 % of the fact's rows
    are deterministically remapped onto ONE supplier key
    (``l_orderkey % 10 < 3 → skey 1``) before the join — the hot-key
    regime `operators/skew.py` exists for, which the ladder's natural
    key distribution never produces.  The oracle applies the identical
    remap and joins plainly: salting is pure skew mitigation and must
    be result-invariant, so the hash-match under a 30 %-hot key is the
    adversarial-input proof the natural-skew entry
    (``join_skew_salted_brand_revenue``) cannot give.  Scale shape: the
    hot key's rows spread over the salt fan-out's reducers; revenue
    goes through exact decimals."""
    from label_maker_dask_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(1))
        .otherwise(F.col("l_suppkey"))
        .cast("long")
        .alias("skey"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(28,8)")
        .alias("rev"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("skey"), "s_name"
    )
    joined = salted_join(li, sup, ["skey"], n_salts=16)
    return joined.groupBy("s_name").agg(
        F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_HOTUSER_SESSIONIZE_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         event_id, ts, value
  FROM events),
flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM flagged)
SELECT user_id, session_id,
       count(*) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       CAST(round(sum(CAST(value AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS session_value
FROM sessions GROUP BY user_id, session_id
"""


@register("sessionize_hotuser_adversarial", _HOTUSER_SESSIONIZE_ORACLE)
def sessionize_hotuser_adversarial(spark, sf_dir):
    """The chunked sessionize path under a CONSTRUCTED bot user: ~30 %
    of all events are deterministically remapped to ``user_id -1``
    (``event_id % 10 < 3``) — the hot-partition regime where a plain
    per-user lag window serializes on one task, which the time-slice
    chunking (`streaming/windows.py sessionize_chunked_sessions`:
    local sessions per 2h slice + per-user merge over slice summaries)
    was built to break.  The oracle applies the identical remap to the
    plain gaps-and-islands SQL: chunking must reproduce the
    single-window semantics down to session ordinals, now proven ON
    the adversarial distribution rather than only the natural one
    (SCALE.md round-7 measured the 2× wall-clock win at a 50 % bot;
    this entry pins the correctness half under the driver gate)."""
    from label_maker_dask_spark.streaming.windows import (
        sessionize_chunked_sessions,
    )

    ev = _t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("user_id"),
        "event_id",
        "ts",
        "value",
    )
    out = sessionize_chunked_sessions(
        ev, "ts", "user_id", gap_minutes=30, tie_break="event_id",
        value_col="value", chunk_seconds=7200,
    )
    return out.select(
        "user_id",
        "session_id",
        "n_events",
        "session_start",
        "session_end",
        F.round(F.col("session_value_dec"), 2)
        .cast("double")
        .alias("session_value"),
    )


_HOTUSER_ASOF_ORACLE = """
WITH ev AS (
  SELECT event_id,
         CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         event_type, ts, value
  FROM events),
conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts, value
  FROM ev WHERE event_type = 'purchase'),
touch AS (
  SELECT event_id AS touch_id, user_id, ts AS touch_ts
  FROM ev WHERE event_type = 'click')
SELECT conv_id, user_id, conv_ts, value, touch_id, touch_ts
FROM (
  SELECT c.conv_id, c.user_id, c.conv_ts, c.value,
         t.touch_id, t.touch_ts,
         row_number() OVER (
           PARTITION BY c.conv_id
           ORDER BY t.touch_ts DESC, t.touch_id DESC) AS rn
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.touch_ts <= c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY)
WHERE rn = 1
"""


@register("asof_merge_hotuser_adversarial", _HOTUSER_ASOF_ORACLE)
def asof_merge_hotuser_adversarial(spark, sf_dir):
    """The slice-chunked merge as-of join
    (``operators/asof.py asof_join_merge`` with ``chunk_seconds``)
    under the SAME constructed bot user as the other adversarial
    entries: ~30 % of all events remapped to ``user_id -1`` before
    last-touch attribution.  This is the distribution the chunked carry
    exists for twice over — a hot key serializes the plain union+carry
    window into one task, AND the range-join formulation the oracle
    replays materializes the bot's conversions × its 7-day touch band
    (the quadratic blowup the merge form avoids).  The hash-match
    proves the within-slice carry + slice-summary carry-in stitching
    exactly reproduces the range-join + window semantics on the skew,
    including the (touch_ts, touch_id) descending tie order.  Scale
    shape: O(L+R) rows per (key, slice); the per-key stitch window sees
    one summary row per occupied slice, so no task's size depends on
    how hot the bot is."""
    from label_maker_dask_spark.operators.asof import asof_join_merge

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("user_id"),
        "event_type",
        "ts",
        "value",
    )
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
        "value",
    )
    touch = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("touch_ts"),
    )
    return asof_join_merge(
        conv, touch, on=["user_id"], left_time="conv_ts",
        right_time="touch_ts", tie_break="touch_id",
        tolerance="INTERVAL 7 DAY", chunk_seconds=86400,
    ).select(
        "conv_id", "user_id", "conv_ts", "value", "touch_id", "touch_ts"
    )


_HOTUSER_TRANSITIONS_ORACLE = """
WITH ev AS (
  SELECT CASE WHEN event_id % 10 < 3 THEN -1 ELSE user_id END AS user_id,
         event_id, ts, event_type
  FROM events),
s AS (
  SELECT event_type AS dst,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS src
  FROM ev),
edges AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
  FROM s WHERE src IS NOT NULL GROUP BY src, dst)
SELECT src, dst, w,
       round(w / (sum(w) OVER (PARTITION BY src)), 6) AS p
FROM edges
"""


@register(
    "transitions_chunked_hotuser_adversarial", _HOTUSER_TRANSITIONS_ORACLE
)
def transitions_chunked_hotuser_adversarial(spark, sf_dir):
    """The time-slice-chunked transition builder
    (``queries_graph_ext.transition_edges_chunked``) under the SAME
    constructed bot user as ``sessionize_hotuser_adversarial``: ~30 %
    of all events remapped to ``user_id -1`` — the hot-partition regime
    where the plain per-user lag window serializes one task, which the
    two-level chunking (within-slice lag + boundary stitching over ~2
    rows per occupied slice) exists to break.  The natural-data twin
    (``graph_event_transitions_chunked``) proves plain-vs-chunked
    equality on a mild distribution; this proves it cross-engine ON the
    skew, down to the row-normalized probabilities.  The oracle applies
    the identical remap to the single-window lag SQL.  Scale shape: the
    bot's events spread over the slices they span; the stitching window
    sees #slices×2 rows per user regardless of how hot the user is."""
    from label_maker_dask_spark.queries_graph_ext import (
        transition_edges_chunked,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 10 < 3, F.lit(-1))
        .otherwise(F.col("user_id"))
        .cast("long")
        .alias("user_id"),
        "event_type",
        "ts",
    )
    edges = transition_edges_chunked(ev)
    wsrc = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        "w",
        F.round(F.col("w") / F.sum("w").over(wsrc), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# Z-order layout write path under the oracle gate
# ---------------------------------------------------------------------------

#: probe bbox in QUANTIZED CELL space (bits=8 → 256 cells per dim):
#: custkey cells [160, 255] × order-day cells [0, 95].  Cell-space
#: constants keep the probe sf-portable — the value→cell map derives
#: from each sf's own min/max in BOTH engines — and the bbox is
#: deliberately NOT bucket-aligned, so the pruning flags exercise the
#: interval-overlap rule's false positives exactly as footer-stat
#: pruning does in production.
_ZPRUNE_QX = (160, 255)
_ZPRUNE_QY = (0, 95)
_ZPRUNE_BITS = 8
_ZPRUNE_FILES = 16
_ZPRUNE_SHIFT = 2 * _ZPRUNE_BITS - 4  # 16-bit key, 16 files: top 4 bits


def _morton2(qx: int, qy: int, bits: int = _ZPRUNE_BITS) -> int:
    """Interleave per ``sources.layout.zorder_key``'s convention: bit
    ``i`` of column ``j`` lands at position ``i * n_cols + j`` (column
    0 = custkey, column 1 = order day)."""
    z = 0
    for i in range(bits):
        z |= ((qx >> i) & 1) << (2 * i)
        z |= ((qy >> i) & 1) << (2 * i + 1)
    return z


#: Morton keys are coordinate-wise monotone, so a cell bbox attains its
#: min/max key at its min/max corners — the closed-form z-span a
#: footer-stat pruner intersects with each file's [min_z, max_z].
_ZPRUNE_LO = _morton2(_ZPRUNE_QX[0], _ZPRUNE_QY[0])
_ZPRUNE_HI = _morton2(_ZPRUNE_QX[1], _ZPRUNE_QY[1])

#: the 16-term interleave as SQL (DuckDB side of the closed form)
_ZPRUNE_Z_SQL = " | ".join(
    f"(((qx >> {i}) & 1) << {2 * i}) | (((qy >> {i}) & 1) << {2 * i + 1})"
    for i in range(_ZPRUNE_BITS)
)

#: The oracle never reads the written files — with FIXED bucket
#: boundaries the file a row lands in is pure arithmetic on its
#: columns, so DuckDB recomputes the whole per-file manifest (row
#: count, min/max key, must-read flag) from the source table.  The
#: quantization is the same IEEE-double expression Spark's
#: ``_grid_index`` evaluates: identical operands through identical
#: correctly-rounded ops ⇒ identical cells in both engines.
_ZPRUNE_ORACLE = f"""
WITH r AS (
  SELECT CAST(min(o_custkey) AS DOUBLE) AS xlo,
         CAST(max(o_custkey) AS DOUBLE) AS xhi,
         CAST(min(date_diff('day', DATE '1970-01-01', o_orderdate)) AS DOUBLE)
           AS ylo,
         CAST(max(date_diff('day', DATE '1970-01-01', o_orderdate)) AS DOUBLE)
           AS yhi
  FROM orders),
g AS (
  SELECT greatest(0, least(255, CAST(floor(
           (CAST(o_custkey AS DOUBLE) - r.xlo)
             / (r.xhi - r.xlo) * 256) AS BIGINT))) AS qx,
         greatest(0, least(255, CAST(floor(
           (CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS DOUBLE)
              - r.ylo) / (r.yhi - r.ylo) * 256) AS BIGINT))) AS qy
  FROM orders, r),
z AS (SELECT {_ZPRUNE_Z_SQL} AS z FROM g),
f AS (
  SELECT z >> {_ZPRUNE_SHIFT} AS zb, count(*) AS n_rows,
         min(z) AS min_z, max(z) AS max_z
  FROM z GROUP BY 1)
SELECT zb, n_rows, min_z, max_z,
       (min_z <= {_ZPRUNE_HI} AND max_z >= {_ZPRUNE_LO}) AS must_read
FROM f
ORDER BY zb
"""

def _zprune_workdir() -> str:
    """Fresh layout-write scratch under the process-lifetime root
    (deferred atexit cleanup — see ``queries_shared.session_tmpdir``,
    the one shared copy of that contract: the returned frame lazily
    reads the written layout, so the driver's collect happens after
    the entry returns)."""
    return session_tmpdir("layout_session", "zprune")


def _zprune_orders_and_ranges(spark, sf_dir):
    """The (projected orders, per-column ranges) pair both layout
    entries cluster on — one tiny min/max aggregate (bounded metadata,
    the ranges a production writer persists for incremental appends)."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.to_date(F.lit("1970-01-01"))
        ).alias("o_day"),
    )
    r = orders.agg(
        F.min("o_custkey").alias("xlo"),
        F.max("o_custkey").alias("xhi"),
        F.min("o_day").alias("ylo"),
        F.max("o_day").alias("yhi"),
    ).first()
    return orders, {
        "o_custkey": (float(r["xlo"]), float(r["xhi"])),
        "o_day": (float(r["ylo"]), float(r["yhi"])),
    }


def _zprune_manifest(spark, path: str, ranges):
    """Read a fixed-boundary layout back and emit the per-file pruning
    manifest (_ZPRUNE_ORACLE's shape): row count, min/max Morton key,
    must-read flag under the fixed cell-space bbox.  Shared by the
    one-shot and incremental-append entries so the manifest arithmetic
    and the shared oracle can only change in lockstep."""
    from label_maker_dask_spark.sources.layout import zorder_key

    back = spark.read.parquet(path)
    z = zorder_key(ranges, bits=_ZPRUNE_BITS)
    per_file = back.groupBy(
        F.col("zb").cast("long").alias("zb")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(z).alias("min_z"),
        F.max(z).alias("max_z"),
    )
    return per_file.select(
        "zb",
        "n_rows",
        "min_z",
        "max_z",
        (
            (F.col("min_z") <= F.lit(_ZPRUNE_HI))
            & (F.col("max_z") >= F.lit(_ZPRUNE_LO))
        ).alias("must_read"),
    ).orderBy("zb")


@register("layout_zorder_file_pruning", _ZPRUNE_ORACLE)
def layout_zorder_file_pruning(spark, sf_dir):
    """The Z-order WRITE path under the value-hash gate, via its
    pruning-effectiveness observable: write orders clustered on
    (custkey, order-day) with ``write_zordered_fixed`` — deterministic
    arithmetic bucket boundaries, one file per occupied bucket — read
    the layout BACK from disk, and emit the per-file manifest a scan
    planner consumes: row count, min/max Morton key (the footer stats
    ``sortWithinPartitions`` tightens), and whether a fixed cell-space
    bbox probe must read the file (interval overlap of the file's key
    span with the bbox's corner-key span).  A writer that mis-buckets
    one row, drops rows, or breaks the key arithmetic hash-mismatches
    against DuckDB's from-source recomputation of the same closed form.

    Scale shape: the key is whole-stage-codegen column math; the write
    is one hash repartition on the bucket id + a within-partition sort
    (the same two exchanges any clustered write pays); the read-back
    aggregate is a 16-group hash aggregate.  The 4-scalar min/max
    collect is bounded metadata (the ranges a production writer would
    persist alongside the layout for incremental appends).  No
    counterpart in the reference (batch tile pipeline, no table
    layout); the n_files=16 here is oracle sizing — production sizes
    buckets to ~1 GB of parquet each."""
    import os

    from label_maker_dask_spark.sources.layout import write_zordered_fixed

    orders, ranges = _zprune_orders_and_ranges(spark, sf_dir)
    path = os.path.join(_zprune_workdir(), "orders_z")
    write_zordered_fixed(
        orders, path, ranges, bits=_ZPRUNE_BITS, n_files=_ZPRUNE_FILES
    )
    return _zprune_manifest(spark, path, ranges)


@register("layout_zorder_incremental_append", _ZPRUNE_ORACLE)
def layout_zorder_incremental_append(spark, sf_dir):
    """The INCREMENTAL-append half of the fixed-boundary Z-order write
    path under the value-hash gate: write even-keyed orders as the base
    layout, then APPEND the odd-keyed rows in a second
    ``write_zordered_fixed`` call that re-derives nothing — same
    ``ranges``, same arithmetic — and emit the same per-file pruning
    manifest as ``layout_zorder_file_pruning``, now aggregated over the
    two writes' files per bucket.  Fixed boundaries make the oracle
    IDENTICAL to the single-write entry's: if appended rows bucket by
    the same closed form, the merged per-bucket (count, min/max key,
    must-read) manifest equals the one-shot write's.  An append that
    re-samples boundaries (the `write_zordered` drift this function
    exists to avoid), drops rows, or routes one row to the wrong bucket
    all hash-mismatch.  Scale shape: the append is one hash
    repartition + within-partition sort over ONLY the delta — the
    O(delta) incremental-layout cost a 100 TB ingest needs (never a
    base rewrite); the read-back aggregate is a 16-group hash agg."""
    import os

    from label_maker_dask_spark.sources.layout import write_zordered_fixed

    orders, ranges = _zprune_orders_and_ranges(spark, sf_dir)
    path = os.path.join(_zprune_workdir(), "orders_z_incremental")
    k = F.col("o_orderkey")
    write_zordered_fixed(
        orders.where(k % 2 == 0), path, ranges,
        bits=_ZPRUNE_BITS, n_files=_ZPRUNE_FILES,
    )
    write_zordered_fixed(
        orders.where(k % 2 != 0), path, ranges,
        bits=_ZPRUNE_BITS, n_files=_ZPRUNE_FILES, mode="append",
    )
    return _zprune_manifest(spark, path, ranges)


# ---------------------------------------------------------------------------
# Snapshot versioning (time travel / rollback / expiry) under the oracle gate
# ---------------------------------------------------------------------------

#: Three published versions are deterministic modulo-slices of orders;
#: after ``rollback(2)`` and ``expire_snapshots(keep=2)`` exactly
#: versions {2, 3} must survive with ``_latest`` -> 2.  The oracle
#: restates the surviving versions' aggregates from the same slice
#: definitions — version membership, pointer semantics, and
#: data-preservation of the kept snapshots all hash in one observable.
_SNAPSHOT_ORACLE = """
WITH v2 AS (SELECT * FROM orders WHERE o_orderkey % 2 = 0),
     v3 AS (SELECT * FROM orders WHERE o_orderkey % 4 <> 3)
SELECT CAST(2 AS BIGINT) AS version, TRUE AS is_latest,
       count(*) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custkeys,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS sum_total
FROM v2
UNION ALL
SELECT CAST(3 AS BIGINT), FALSE, count(*),
       CAST(count(DISTINCT o_custkey) AS BIGINT),
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
FROM v3
"""


@register("snapshot_time_travel_read", _SNAPSHOT_ORACLE)
def snapshot_time_travel_read(spark, sf_dir):
    """The snapshot-versioned table lifecycle (``sources/snapshots.py``)
    under the value-hash gate: publish three immutable versions
    (modulo-slices of orders: keys %4==0, %2==0, %4!=3), ``rollback``
    the ``_latest`` pointer to v2, then ``expire_snapshots(keep=2)`` —
    which must GC exactly v1 (v2 survives as the pinned latest even
    though it is not among the newest two; v3 survives by recency).
    The entry then re-reads every surviving version through
    ``read_snapshot`` and emits per-version aggregates tagged with the
    pointer state.  A publish that drops rows, an expiry that removes a
    pinned or recent version (extra/missing output rows), a pointer
    that moves on expiry, or a time-travel read resolving the wrong
    directory all hash-mismatch against DuckDB's restatement from the
    same slice definitions.

    Scale shape: each publish is one distributed write (the same cost
    as any sink); pointer moves and expiry are O(1) driver metadata;
    the verification aggregates are 3-column hash aggs.  The version
    loop runs over ``_versions()`` — bounded by retention policy, never
    data volume.  No counterpart in the reference (one-shot batch job,
    no table lifecycle); this is the reproducible-training-read surface
    a 100 TB curation pipeline needs (SURVEY.md Part B scans/sinks)."""
    import os

    from label_maker_dask_spark.sources.snapshots import (
        _versions,
        expire_snapshots,
        latest_version,
        read_snapshot,
        rollback,
        write_snapshot,
    )

    orders = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    table = os.path.join(_zprune_workdir(), "orders_versions")
    write_snapshot(orders.where(k % 4 == 0), table)
    write_snapshot(orders.where(k % 2 == 0), table)
    write_snapshot(orders.where(k % 4 != 3), table)
    rollback(table, 2)
    expire_snapshots(table, keep=2)
    latest = latest_version(table)
    per_version = [
        read_snapshot(spark, table, v).agg(
            F.lit(v).cast("long").alias("version"),
            F.lit(v == latest).alias("is_latest"),
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(28,8)")), 2)
            .cast("double")
            .alias("sum_total"),
        )
        for v in _versions(table)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


# ---------------------------------------------------------------------------
# Small-file compaction under the oracle gate
# ---------------------------------------------------------------------------

#: the fragmented write is an even 64-way round-robin repartition of
#: lineitem (>= 64 rows at every tested sf, so all 64 partitions are
#: non-empty -> 64 files); the 1 GiB target folds any tested sf's bytes
#: into one file, so both file counts are closed-form literals and the
#: data columns restate from the source table.
_COMPACT_ORACLE = """
SELECT CAST(64 AS BIGINT) AS n_files_before,
       CAST(1 AS BIGINT) AS n_files_after,
       count(*) AS n_rows,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orderkeys,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS sum_price
FROM lineitem
"""


@register("layout_compaction_rewrite", _COMPACT_ORACLE)
def layout_compaction_rewrite(spark, sf_dir):
    """The small-file compaction maintenance job (``sources/layout.py
    compact_small_files``) under the value-hash gate: fragment lineitem
    into 64 deliberately-small files (the accumulation shape a
    per-batch streaming sink produces), compact with a 1 GiB target —
    one narrow ``coalesce`` rewrite through the crash-recoverable
    rename-aside swap — and hash BOTH halves of the contract: the
    observed file counts before/after (``input_file_name`` distinct
    counts; the bin-packing must actually reach 1 file) and the data
    itself (row count, key cardinality, exact-decimal price sum; the
    rewrite must not drop, duplicate, or alter a single row).  A
    compaction that loses a file's rows mid-swap, double-reads the temp
    directory, or mis-sizes the output all hash-mismatch against
    DuckDB's restatement from the source table.

    Scale shape: the fragmented write and the compaction rewrite are
    each one pass over the slice (coalesce unions input splits — no
    shuffle); the before-count is a bounded metadata aggregate (one
    long).  Production runs this per partition directory with
    target_file_mb=128; the 1-file target here is oracle sizing so the
    expected count stays closed-form at every sf."""
    import os

    from label_maker_dask_spark.sources.layout import compact_small_files

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    path = os.path.join(_zprune_workdir(), "lineitem_fragmented")
    li.repartition(64).write.mode("overwrite").parquet(path)
    # input_file_name() is non-deterministic to the analyzer — project
    # it into a column first; aggregating it directly is rejected.
    n_before = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"))
        .agg(F.countDistinct("f"))
        .first()[0]
    )
    compact_small_files(spark, path, target_file_mb=1024)
    back = spark.read.parquet(path).withColumn("f", F.input_file_name())
    return back.agg(
        F.lit(n_before).cast("long").alias("n_files_before"),
        F.countDistinct("f").alias("n_files_after"),
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orderkeys"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,8)")), 2)
        .cast("double")
        .alias("sum_price"),
    )
