"""TPC-H shapes 11/12/13/16/20/21 adapted to the reduced star schema.

The driver's testdata has no ``partsupp`` table and no
commit/receipt/shipmode columns on ``lineitem`` (TESTDATA.md), so each
query keeps its defining *plan shape* — scalar-subquery threshold (Q11),
conditional aggregation over a late-shipment join (Q12), left-join count
distribution (Q13), distinct-count with NOT-IN exclusion (Q16), nested
semi-join qualification (Q20), EXISTS/NOT-EXISTS self-join (Q21) — with
supply facts derived from ``lineitem`` where ``partsupp`` would be used.

Registered into the same QUERIES/ORACLES catalog as
``label_maker_dask_spark.queries``, which imports this module.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.queries_shared import _t, register


@register(
    "q11_part_value_concentration",
    """
    WITH value_per_part AS (
      SELECT l_partkey AS partkey,
             sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,8))) AS val
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
                    JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY l_partkey)
    SELECT partkey, CAST(round(val, 2) AS DOUBLE) AS part_value
    FROM value_per_part
    WHERE val > (SELECT sum(val) * 0.001 FROM value_per_part)
    """,
)
def q11_part_value_concentration(spark, sf_dir):
    """TPC-H Q11 shape (group agg filtered by a global scalar subquery):
    per-part supply value for one nation's suppliers, kept only when above
    a fraction of the nation's total.  No partsupp table exists
    (TESTDATA.md), so lineitem revenue is the supply-value fact.

    Scale: nation+supplier dims broadcast; one shuffle for the per-part
    agg; the threshold is a 1-row broadcast.  Sums go through exact
    decimals so the threshold cut is cross-engine stable.

    Round 18: the per-part ``value`` frame feeds BOTH the output and the
    threshold subquery, and Spark compiled the whole fact join + agg
    TWICE (column pruning narrows the threshold side's exchange, so
    neither static exchange reuse nor AQE stage reuse fired — verified
    on the executed plan: 6 parquet scans, 0 ReusedExchange).  A lazy
    ``localCheckpoint`` materializes the part-cardinality frame once and
    both consumers read it — the same share-the-pass shape the dedup
    operators use (r17 §8).  Values bit-identical (the checkpoint caches
    the identical computation; exceptAll = 0 at all three SFs)."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    value = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(28,8)"
                )
            ).alias("val")
        )
        .localCheckpoint(eager=False)
    )
    threshold = value.agg((F.sum("val") * F.lit(0.001)).alias("cutoff"))
    return (
        value.join(F.broadcast(threshold), F.col("val") > F.col("cutoff"))
        .select(
            "partkey", F.round("val", 2).cast("double").alias("part_value")
        )
    )


@register(
    "q12_late_shipment_priority",
    """
    SELECT l_linestatus AS ship_status,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 45 DAY
    GROUP BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark, sf_dir):
    """TPC-H Q12 shape (join + conditional two-way count): late shipments
    (>45 days after order date — the reduced schema has no
    commit/receipt/shipmode, so lateness is ship-vs-order and the grouping
    key is l_linestatus) split by order priority.

    Scale: the shipdate range filter pushes to the lineitem scan; one
    shuffle join on orderkey, then a 2-group partial-agg-friendly
    conditional count."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 45 DAY")),
        )
        .groupBy(F.col("l_linestatus").alias("ship_status"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 (distribution of per-customer order counts): left join so
    zero-order customers survive as c_count=0, with a join-side predicate
    excluding urgent orders (stand-in for the NOT LIKE comment filter the
    reduced schema lacks).

    Scale (round 18, guide §2.3 "aggregate before you shuffle"): the
    per-customer count is a fact of orders alone, so orders collapses
    to one row per custkey BEFORE the outer join instead of moving
    every order row through it — the join exchange carries |customers
    with orders| rows, not |orders|.  Customers with no surviving
    orders surface as NULL and take the same c_count=0 the outer-join
    group produced (count(o_orderkey) over an all-null group was 0).
    Counts are exact integers — row-identical by construction, proven
    at sf0.001/0.01/0.1; the outer distribution agg stays tiny."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust_orders = orders.groupBy("o_custkey").agg(
        F.count("o_orderkey").alias("_n")
    )
    per_cust = cust.join(
        per_cust_orders, F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(F.coalesce(F.col("_n"), F.lit(0).cast("long")).alias("c_count"))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16 shape (distinct-count with NOT-IN exclusion): how many
    suppliers ship each surviving (brand, type, size) combination,
    excluding flagged suppliers (negative balance stands in for the
    complaints LIKE — no comment column exists).  Supply facts come from
    lineitem (no partsupp).

    Scale: all part predicates push to the broadcast part dim; the NOT IN
    is a left-anti join against a tiny broadcast side; count(distinct)
    expands to a two-phase agg keyed by (group, suppkey) — no single hot
    reducer."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#13")
        & ~F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
    )
    flagged = _t(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(flagged), F.col("l_suppkey") == F.col("s_suppkey"),
                "left_anti")
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_promotion_part_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING sum(l_quantity) > 50)
      AND s_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_name IN ('NATION_1','NATION_2','NATION_3',
                                           'NATION_4','NATION_5'))
    """,
)
def q20_promotion_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape (nested IN-subquery qualification -> chained semi
    joins): suppliers in a nation group who shipped a meaningful volume of
    'small%' parts in 1997.  The availqty-vs-half-shipped partsupp
    comparison becomes a HAVING over shipped quantity (no partsupp table).

    Scale: part dim broadcast into the fact scan; the per-supplier volume
    agg collapses map-side; both qualifications are left-semi joins
    (supplier is never duplicated), nation semi is a broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("small%"))
    qualified = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("shipped_qty"))
        .where(F.col("shipped_qty") > 50)
        .select("l_suppkey")
    )
    nations = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        supp.join(qualified, F.col("s_suppkey") == F.col("l_suppkey"),
                  "left_semi")
        .join(F.broadcast(nations),
              F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
    )


@register(
    "q21_suppliers_who_shipped_last",
    """
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    """,
)
def q21_suppliers_who_shipped_last(spark, sf_dir):
    """TPC-H Q21 shape (EXISTS + NOT EXISTS correlated self-joins): in
    finished multi-supplier orders, the supplier whose line shipped
    strictly last (no later line from another supplier).  Ship-vs-ship
    ordering stands in for the receipt-vs-commit lateness test (no
    commit/receipt dates).

    Shape (round 18): the two correlated self-joins used to run as a
    left-semi + left-anti SortMergeJoin pair — three exchanges of the
    fact table on the same key plus two SMJ sorts.  Both subqueries are
    per-ORDER facts, so they collapse into window aggregates over ONE
    exchange of lineitem:

    - EXISTS (another supplier in the order)  ⇔  min(supp) != max(supp)
      over the order;
    - NOT EXISTS (a strictly later line from another supplier)  ⇔  the
      row ships at the order's max date when ≥2 distinct suppliers
      reach that max (struct-max/min extracts the supplier extremes at
      the max date: ``max(struct(d, s))`` / ``max(struct(d, -s))``), or
      the row belongs to the unique last supplier ``u`` and ships no
      earlier than ``max(d | supp != u)`` (a second window over the
      SAME partitioning — no new exchange); a null ship date always
      passes the anti-join (``d3 > NULL`` never matches), kept
      explicitly for any-input parity with the join form.

    Proven row-identical to the join form at sf0.001/0.01/0.1 (exceptAll
    both ways = 0) and re-proven against the DuckDB oracle, which still
    states the EXISTS/NOT-EXISTS form.  Orders ('F' filter) stays a
    broadcast left-semi; supplier is broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    s, d = F.col("l_suppkey"), F.col("l_shipdate")
    w = Window.partitionBy("l_orderkey")
    ann = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .select(
            "l_orderkey",
            "l_suppkey",
            "l_shipdate",
            F.min(s).over(w).alias("_smin"),
            F.max(s).over(w).alias("_smax"),
            F.max(d).over(w).alias("_m1"),
            F.max(F.struct(d.alias("d"), s.alias("s")))
            .over(w)["s"]
            .alias("_uhi"),
            (-F.max(F.struct(d.alias("d"), (-s).alias("ns"))).over(w)["ns"])
            .alias("_ulo"),
        )
        .withColumn("_mo", F.max(F.when(s != F.col("_uhi"), d)).over(w))
    )
    multi = F.col("_uhi") != F.col("_ulo")
    qualified = ann.where(
        (F.col("_smin") != F.col("_smax"))
        & (
            d.isNull()
            | (multi & (d == F.col("_m1")))
            | (
                ~multi
                & (s == F.col("_uhi"))
                # NULL _mo: the other suppliers have only NULL ship
                # dates, none ships later — the anti-join keeps the row
                & F.coalesce(F.col("_mo") <= d, F.lit(True))
            )
        )
    ).select("l_orderkey", "l_suppkey")
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supp = _t(spark, sf_dir, "supplier")
    return (
        qualified.join(orders.select("o_orderkey"),
              F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "agg_pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(round(coalesce(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 0), 2) AS DOUBLE) AS total_F,
           CAST(round(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 0), 2) AS DOUBLE) AS total_O,
           CAST(round(coalesce(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 0), 2) AS DOUBLE) AS total_P
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_pivot_status_by_priority(spark, sf_dir):
    """The pivot surface: order totals pivoted to one column per order
    status.  With the pivot values supplied explicitly, Spark skips the
    distinct-values discovery job and compiles straight to conditional
    aggregates — one shuffle, partial-agg friendly, same plan shape as a
    hand-written CASE pivot (the oracle's form)."""
    orders = _t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .sum("o_totalprice")
    )
    return piv.select(
        "o_orderpriority",
        *[
            F.round(F.coalesce(F.col(s), F.lit(0.0)), 2).alias(f"total_{s}")
            for s in ["F", "O", "P"]
        ],
    )


@register(
    "agg_exact_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_exact_percentiles(spark, sf_dir):
    """Exact percentiles (linear interpolation) per group — Spark's native
    percentile aggregate against DuckDB's quantile_cont, same
    interpolation rule.  Exact percentile is a full-sort-per-group
    aggregate; at scale prefer approx_percentile (t-digest sketch,
    mergeable map-side) unless exactness is contractual — this entry is
    the exactness baseline for that tradeoff.  (Scalar output columns:
    the driver's compare cannot canonicalize array cells.)"""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .select(
            "l_returnflag",
            F.round(F.col("_p").getItem(0), 4).alias("p50"),
            F.round(F.col("_p").getItem(1), 4).alias("p90"),
            F.round(F.col("_p").getItem(2), 4).alias("p99"),
        )
    )


@register(
    "unpivot_lineitem_metrics",
    """
    WITH a AS (
      SELECT l_returnflag,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(28,8))), 2) AS DOUBLE)
               AS sum_qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(28,8))), 2) AS DOUBLE)
               AS sum_price,
             CAST(count(*) AS DOUBLE) AS n_items
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM a
    UNION ALL
    SELECT l_returnflag, 'n_items', n_items FROM a
    """,
)
def unpivot_lineitem_metrics(spark, sf_dir):
    """Wide-to-long reshaping via DataFrame.unpivot (melt) — the inverse of
    the pivot entry; decimal-summed so the doubled values hash-match."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.col("l_quantity").cast("decimal(28,8)")), 2)
        .cast("double")
        .alias("sum_qty"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(28,8)")), 2)
        .cast("double")
        .alias("sum_price"),
        F.count(F.lit(1)).cast("double").alias("n_items"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "n_items"], "metric", "value"
    )


@register(
    "agg_winsorized_mean_price",
    """
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.01) AS lo,
             quantile_cont(l_extendedprice, 0.99) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(28,8)))
                / count(*), 4) AS DOUBLE) AS mean_raw,
           CAST(round(sum(CAST(greatest(c.lo, least(c.hi,
                  l.l_extendedprice)) AS DECIMAL(28,8)))
                / count(*), 4) AS DOUBLE) AS mean_winsorized,
           count(*) FILTER (WHERE l.l_extendedprice < c.lo
                               OR l.l_extendedprice > c.hi) AS n_clipped
    FROM lineitem l JOIN cuts c USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
)
def agg_winsorized_mean_price(spark, sf_dir):
    """Winsorized mean per group: clip values to the group's exact
    [p01, p99] band, then average — the outlier-robust mean a feature
    pipeline uses where a plain mean is hostage to a fat tail.

    Determinism discipline: the cut points come from the exact
    interpolated percentile (one scalar expression over the sorted
    group, identical in both engines), clipping is a pure comparison,
    and the clipped sum accumulates as DECIMAL(28,8) — exact addition,
    so partial-agg merge order cannot leak ulps where a double sum of
    600k 2-decimal values sits within rounding distance of the 4th
    decimal.  ``mean_raw`` rides along for the contrast, accumulated
    through the SAME exact decimal sum (a plain double avg rounded to 4
    decimals sits in exactly the merge-order hazard the winsorized
    column avoids), and ``n_clipped`` quantifies the tail that was
    tamed.

    Scale shape: the percentile pass is the exactness baseline (full
    sort per group — see ``agg_exact_percentiles``'s note; at scale the
    cuts would come from ``approx_percentile``); the cut table is
    group-cardinality rows, broadcast back onto the fact scan, and the
    winsorized aggregate is a plain partial-aggregable hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile(
        "l_extendedprice", F.array(F.lit(0.01), F.lit(0.99))
    )
    cuts = (
        li.groupBy("l_returnflag")
        .agg(pct.alias("_p"))
        .select(
            "l_returnflag",
            F.col("_p").getItem(0).alias("lo"),
            F.col("_p").getItem(1).alias("hi"),
        )
    )
    x = F.col("l_extendedprice")
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), x))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(x.cast("decimal(28,8)")) / F.count(F.lit(1)), 4
            )
            .cast("double")
            .alias("mean_raw"),
            F.round(
                F.sum(clipped.cast("decimal(28,8)"))
                / F.count(F.lit(1)),
                4,
            )
            .cast("double")
            .alias("mean_winsorized"),
            F.count(
                F.when((x < F.col("lo")) | (x > F.col("hi")), 1)
            ).alias("n_clipped"),
        )
    )
