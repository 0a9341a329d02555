"""Time-series and pipeline-analytics catalog extensions.

Five operators a production training-data / analytics pipeline reaches for
that the base catalog did not yet cover, each with a hash-matched DuckDB
oracle:

- ``timeseries_gapfill_daily_revenue`` — resample a fact table onto a dense
  date spine with zero-fill and forward-fill (gap filling / interpolation).
- ``events_funnel_signup_view_purchase`` — ordered multi-step funnel over
  the event stream (signup -> view -> purchase, each step strictly after
  the previous), one shuffle total.
- ``window_trailing_1h_user_activity`` — RANGE-frame window over event
  time: per-event trailing one-hour activity per user.
- ``agg_histogram_order_totals`` — fixed-width histogram via pure column
  arithmetic (no sampling, single aggregate pass).
- ``dedup_cluster_representatives`` — the step after connected components
  in a dedup pipeline: one canonical representative per near-dup cluster.

Scale notes are on each query; the common theme is that every shape here is
one shuffle on a natural key (user, day-bucket, component) and the only
global window runs over a *date spine* whose cardinality is the number of
days in the data — independent of fact-table row count.
"""

from __future__ import annotations

from pyspark.sql import Window
from label_maker_dask_spark.operators.materialize import materialize
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.timeutil import epoch_micros
from label_maker_dask_spark.queries_shared import (
    _t,
    components_oracle as _components_oracle,
    register,
)

_GAPFILL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         round(sum(o_totalprice), 2) AS rev
  FROM orders GROUP BY 1),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds)
SELECT CAST(s.day AS TIMESTAMP) AS day,
       round(coalesce(d.rev, 0.0), 2) AS revenue,
       round(last_value(d.rev IGNORE NULLS) OVER (
         ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS revenue_ffill,
       CASE WHEN d.rev IS NOT NULL THEN 1 ELSE 0 END AS has_orders
FROM spine s LEFT JOIN daily d USING (day)
"""


@register("timeseries_gapfill_daily_revenue", _GAPFILL_ORACLE)
def timeseries_gapfill_daily_revenue(spark, sf_dir):
    """Gap-fill / resample: daily order revenue on a dense date spine, with
    zero-fill and forward-fill columns.

    Scale shape: the fact scan reduces to one row per day *before* anything
    else (map-side partial agg), so the spine join and the forward-fill
    window run over date-cardinality rows (~2.4k days here, ~36.5k rows
    even for a century of data) no matter how large the fact table is.
    The unpartitioned window is therefore safe by construction — it never
    sees fact-table cardinality.  The spine itself is generated from the
    aggregated min/max, not collected to the driver.
    """
    orders = _t(spark, sf_dir, "orders")
    # daily feeds the spine bounds AND the spine join — checkpoint the
    # date-cardinality rollup so the fact scan + agg runs once (r18)
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    ).localCheckpoint(eager=False)
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    # Date-spine window: cardinality = number of days, not fact rows.
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(daily, "day", "left")
        .select(
            # TIMESTAMP (not DATE) output: DuckDB's pandas bridge widens
            # DATE to datetime64 while Spark keeps datetime.date, which
            # breaks the driver's string canonicalization.
            F.col("day").cast("timestamp").alias("day"),
            F.round(F.coalesce("rev", F.lit(0.0)), 2).alias("revenue"),
            F.round(F.last("rev", ignorenulls=True).over(w), 2).alias(
                "revenue_ffill"
            ),
            F.when(F.col("rev").isNotNull(), 1).otherwise(0).alias(
                "has_orders"
            ),
        )
    )


_FUNNEL_ORACLE = """
WITH w1 AS (
  SELECT user_id, ts, event_type,
         min(CASE WHEN event_type = 'signup' THEN ts END)
           OVER (PARTITION BY user_id) AS t1
  FROM events),
w2 AS (
  SELECT user_id, ts, event_type, t1,
         min(CASE WHEN event_type = 'view' AND ts > t1
                   AND ts <= t1 + INTERVAL 24 HOURS THEN ts END)
           OVER (PARTITION BY user_id) AS t2
  FROM w1),
w3 AS (
  SELECT user_id, t1, t2,
         min(CASE WHEN event_type = 'purchase' AND ts > t2
                   AND ts <= t2 + INTERVAL 24 HOURS THEN ts END)
           OVER (PARTITION BY user_id) AS t3
  FROM w2),
per_user AS (
  SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
  FROM w3 GROUP BY user_id),
staged AS (
  SELECT CASE WHEN t3 IS NOT NULL THEN 3
              WHEN t2 IS NOT NULL THEN 2
              WHEN t1 IS NOT NULL THEN 1
              ELSE 0 END AS funnel_stage,
         (epoch_us(t3) - epoch_us(t1)) / 3600000000.0 AS hours_to_purchase
  FROM per_user)
SELECT funnel_stage, count(*) AS n_users,
       round(avg(hours_to_purchase), 6) AS avg_hours_signup_to_purchase
FROM staged GROUP BY funnel_stage
"""


@register("events_funnel_signup_view_purchase", _FUNNEL_ORACLE)
def events_funnel_signup_view_purchase(spark, sf_dir):
    """Ordered three-step funnel: signup, then a view within 24 hours
    strictly after the signup, then a purchase within 24 hours strictly
    after that view; users bucketed by the furthest stage reached.  The
    step windows keep the funnel discriminating (without them every user
    in the synthetic stream converts).

    Scale shape: the three step timestamps are chained window minima over
    the *same* partitioning (user_id), so the three Window operators and
    the per-user aggregate all reuse one fact-table-sized exchange; the
    only other exchange carries the <=4-row stage histogram.  No
    self-joins, no fact-table blowup.  (Verified: executedPlan has exactly
    2 Exchanges, 3 Windows.)
    """
    ev = _t(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(wu)
    s1 = ev.select("user_id", "ts", "event_type", t1.alias("t1"))
    t2 = F.min(
        F.when(
            (F.col("event_type") == "view")
            & (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS")),
            F.col("ts"),
        )
    ).over(wu)
    s2 = s1.select("user_id", "ts", "event_type", "t1", t2.alias("t2"))
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 24 HOURS")),
            F.col("ts"),
        )
    ).over(wu)
    s3 = s2.select("user_id", "t1", "t2", t3.alias("t3"))
    per_user = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    staged = per_user.select(
        F.when(F.col("t3").isNotNull(), 3)
        .when(F.col("t2").isNotNull(), 2)
        .when(F.col("t1").isNotNull(), 1)
        .otherwise(0)
        .alias("funnel_stage"),
        # integer micros subtraction then one double division — the exact
        # arithmetic DuckDB's (epoch_us(t3) - epoch_us(t1)) / 3.6e9 does
        (
            (epoch_micros("t3") - epoch_micros("t1"))
            / F.lit(3600000000.0)
        ).alias("hours_to_purchase"),
    )
    return staged.groupBy("funnel_stage").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.avg("hours_to_purchase"), 6).alias(
            "avg_hours_signup_to_purchase"
        ),
    )


_TRAILING_ORACLE = """
SELECT event_id, user_id,
       count(*) OVER w AS trailing_1h_cnt,
       round(sum(value) OVER w, 6) AS trailing_1h_value_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


@register("window_trailing_1h_user_activity", _TRAILING_ORACLE)
def window_trailing_1h_user_activity(spark, sf_dir):
    """Trailing one-hour activity per event: a RANGE frame over epoch
    microseconds (micro-truncated identically by both engines, see ``_t``).
    Peers at the exact same timestamp land in each other's frames in both
    engines, so the result is tie-stable without an id tiebreak.

    Scale shape: one shuffle on user_id, then a sorted range-frame scan per
    partition — Spark's WindowExec keeps a sliding frame, so cost is
    O(rows) not O(rows x frame width).  Skewed users are bounded by the
    per-user event volume, same as any per-entity window.
    """
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros("ts"))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("trailing_1h_cnt"),
        F.round(F.sum("value").over(w), 6).alias("trailing_1h_value_sum"),
    )


_HISTOGRAM_ORACLE = """
SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin,
       CAST(floor(o_totalprice / 50000) AS BIGINT) * 50000 AS bin_lo,
       count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total_value,
       round(avg(o_totalprice), 2) AS avg_price
FROM orders
GROUP BY 1, 2
"""


@register("agg_histogram_order_totals", _HISTOGRAM_ORACLE)
def agg_histogram_order_totals(spark, sf_dir):
    """Fixed-width histogram of order totals (50k-wide bins) as pure column
    arithmetic: bin id is floor(x / width) — the same IEEE-754 double
    division and floor in both engines, so bin edges agree bit-exactly.

    Scale shape: a single hash aggregate with map-side partials on a
    low-cardinality key (#bins); the scan reads exactly one column.
    """
    orders = _t(spark, sf_dir, "orders")
    bin_col = F.floor(F.col("o_totalprice") / 50000).cast("long")
    return (
        orders.select(
            bin_col.alias("bin"),
            (bin_col * 50000).alias("bin_lo"),
            F.col("o_totalprice"),
        )
        .groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_value"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


def _representatives_oracle() -> str:
    return f"""
    SELECT component AS rep_doc_id,
           count(*) AS cluster_size,
           CAST(max(doc_id) AS BIGINT) AS max_doc_id
    FROM ({_components_oracle()}) comps
    GROUP BY component
    """


@register("dedup_cluster_representatives", _representatives_oracle())
def dedup_cluster_representatives(spark, sf_dir):
    """Canonical representative per near-dup cluster — the step a curation
    pipeline actually wants after pair generation + connected components:
    keep ``rep_doc_id`` (the minimum doc id in the cluster, i.e. the
    component label), drop the other ``cluster_size - 1`` members.

    Scale shape: inherits the bucketed LSH pair generation and the
    O(diameter)-round component propagation, then adds one hash aggregate
    on the component key.  Only clusters (nodes that appear in at least
    one near-dup pair) are emitted; singleton docs need no resolution.
    """
    from label_maker_dask_spark.operators.dedup import (
        duplicate_components,
        minhash_neardup_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_neardup_pairs(docs, k=16, bands=4, threshold=0.12)
    comps = duplicate_components(pairs)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("doc_id").alias("max_doc_id"),
    ).select(
        F.col("component").alias("rep_doc_id"), "cluster_size", "max_doc_id"
    )


_COHORT_ORACLE = """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
  FROM events)
SELECT f.cohort_week,
       CAST(date_diff('day', CAST(f.cohort_week AS DATE),
                      CAST(a.active_week AS DATE)) / 7 AS INT) AS week_index,
       count(*) AS n_users
FROM activity a JOIN first_seen f ON a.user_id = f.user_id
GROUP BY 1, 2
"""


@register("events_cohort_weekly_retention", _COHORT_ORACLE)
def events_cohort_weekly_retention(spark, sf_dir):
    """Weekly cohort retention: users bucketed by their first-seen week,
    counted in every later week they were active — the product-analytics
    retention matrix (cohort_week x week_index).

    Scale shape: both inputs shuffle once on user_id (the first-seen agg
    and the distinct-activity dedup share the key), the join is
    user-keyed, and the final matrix aggregate carries cohort-sized
    output.  week_index is an exact multiple of 7 days by construction,
    so the integer division is engine-stable."""
    ev = _t(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    ).distinct()
    j = activity.join(first_seen, "user_id")
    widx = (
        F.datediff(
            F.col("active_week").cast("date"), F.col("cohort_week").cast("date")
        )
        / 7
    ).cast("int")
    return j.groupBy("cohort_week", widx.alias("week_index")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


_COOCCUR_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day, event_type
  FROM events),
n_baskets AS (
  SELECT count(*) AS total
  FROM (SELECT DISTINCT user_id, date_trunc('day', ts) FROM events)),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type)
SELECT type_a, type_b, count(*) AS n_baskets,
       round(count(*)::DOUBLE / (SELECT total FROM n_baskets), 6) AS support
FROM pairs GROUP BY type_a, type_b
"""


@register("analytics_event_type_cooccurrence", _COOCCUR_ORACLE)
def analytics_event_type_cooccurrence(spark, sf_dir):
    """Market-basket co-occurrence: which event types happen together in
    the same (user, day) basket, with support normalized by total basket
    count — the association-mining primitive (frequent itemsets at
    k = 2).

    Scale shape: baskets dedupe first (one shuffle on the basket key), so
    the self-join multiplies DISTINCT items per basket (bounded by the
    event-type vocabulary, here <= 5 -> <= 10 pairs per basket), never raw
    event rows.  The basket-count total is a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    # the deduped basket items feed THREE branches (both self-join sides
    # + the basket-count total), and the total used to be an EAGER
    # driver-side .count() — a whole extra job at plan-build time.  r18:
    # checkpoint the bounded basket frame once and fold the total into
    # the plan as a 1-row broadcast (the q11 threshold shape); the
    # division sees the identical long count, so support is bit-equal.
    baskets = ev.select(
        "user_id", day.alias("day"), "event_type"
    ).distinct().localCheckpoint(eager=False)
    total = (
        baskets.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).cast("double").alias("_total"))
    )
    a = baskets.alias("a")
    b = baskets.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a.user_id") == F.col("b.user_id"),
            F.col("a.day") == F.col("b.day"),
            F.col("a.event_type") < F.col("b.event_type"),
        ],
    )
    return (
        pairs.select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_baskets"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "type_a",
            "type_b",
            "n_baskets",
            F.round(F.col("n_baskets") / F.col("_total"), 6).alias("support"),
        )
    )


@register(
    "attribution_last_touch",
    """
    WITH conv AS (
      SELECT event_id AS conv_id, user_id, ts AS conv_ts, value
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT event_id AS touch_id, user_id, ts AS touch_ts
      FROM events WHERE event_type = 'click')
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
    """,
)
def attribution_last_touch(spark, sf_dir):
    """Last-touch attribution: each purchase credited to the user's
    latest click within a 7-day lookback — the canonical marketing
    query, expressed with the merge-style as-of join
    (``operators.asof.asof_join_merge``: union + carry, O(L+R) per
    user, slice-chunked so a bot user cannot serialize the stage).  The
    oracle replays the range-join + window formulation — the hash-match
    proves the merge path once more on a second real workload."""
    from label_maker_dask_spark.operators.asof import asof_join_merge

    ev = _t(spark, sf_dir, "events")
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
    ).select("conv_id", "user_id", "conv_ts", "value", "touch_id", "touch_ts")


@register(
    "scd2_user_state_history",
    """
    SELECT user_id, event_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def scd2_user_state_history(spark, sf_dir):
    """SCD type-2 historization of the event log: every per-user state
    change becomes a validity interval (valid_from = its timestamp,
    valid_to = the next change, open while current) — the
    history-keeping counterpart of the SCD-1 CDC merge, and the table
    shape point-in-time joins (`asof_join_merge`) consume.  Incremental
    maintenance: ``operators.scd.scd2_apply`` (batch-equals tested)."""
    from label_maker_dask_spark.operators.scd import historize_changes

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("event_type").alias("state"), "ts"
    )
    return historize_changes(ev, ["user_id"], "ts", "event_id").select(
        "user_id", "event_id", "state", "valid_from", "valid_to", "is_current"
    )


_TRIGRAM_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS prev1,
         lag(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
tri AS (
  SELECT prev2 || '>' || prev1 || '>' || event_type AS path,
         count(*) AS n
  FROM seq WHERE prev2 IS NOT NULL GROUP BY 1),
total AS (SELECT sum(n) AS t FROM tri)
SELECT path, n, round(n / t, 6) AS share
FROM tri, total
ORDER BY n DESC, path ASC
LIMIT 20
"""


@register("analytics_event_path_trigrams", _TRIGRAM_ORACLE)
def analytics_event_path_trigrams(spark, sf_dir):
    """Top-20 behavioral paths: 3-grams of each user's time-ordered
    event-type sequence, globally counted with their share — the
    path-analysis step between the pairwise transition graph
    (``graph_event_transitions``) and full funnel queries.

    Scale shape: TWO lags in ONE per-user window (a single sort, no
    self-joins — Spark evaluates both lag frames in the same window
    exec), then a hash agg onto at most |event_types|³ keys, which
    partial-aggregates map-side and materializes once (it feeds both
    the share's total and the output rows — unmaterialized, the fact
    window would run twice); the total for the share column is a
    broadcast scalar, and the top-20 goes through the global
    sort-limit (TakeOrdered, no full sort).  Per-user skew is bounded
    by the same argument as the transition graph — the window carries
    only 2 rows of state; a pathologically hot user would use the
    chunked twin's time-slice trick (``transition_edges_chunked``).
    Deterministic: ordering ties break on the unique ``event_id``, and
    the top-20 order is (count desc, path asc)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(epoch_micros("ts"), "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("prev2"),
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.col("event_type"),
    ).where(F.col("prev2").isNotNull())
    tri = seq.groupBy(
        F.concat_ws(">", "prev2", "prev1", "event_type").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    # materialize once: tri is referenced twice (rows + total) and is
    # at most |event_types|^3 rows — unmaterialized, the fact window
    # would run twice.  localCheckpoint (the repo's materialize-once
    # convention, same as the chi2 sibling) needs no matching
    # unpersist, so long-lived library sessions don't leak cache blocks.
    tri = tri.transform(materialize, eager=True)
    total = tri.agg(F.sum("n").alias("t"))
    return (
        tri.crossJoin(F.broadcast(total))
        .select("path", "n", F.round(F.col("n") / F.col("t"), 6).alias("share"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


_CHI2_ORACLE = """
WITH cells AS (
  SELECT event_type, hour(ts) AS hr, count(*) AS n_ij
  FROM events GROUP BY 1, 2),
rows_ AS (SELECT event_type, sum(n_ij) AS r FROM cells GROUP BY 1),
cols_ AS (SELECT hr, sum(n_ij) AS c FROM cells GROUP BY 1),
tot AS (SELECT sum(n_ij) AS n FROM cells),
contrib AS (
  SELECT CAST(round(
           ((ce.n_ij - (r.r * co.c / t.n))
            * (ce.n_ij - (r.r * co.c / t.n))
            / (r.r * co.c / t.n)) * 1000000.0, 0) AS BIGINT) AS micro
  FROM cells ce
  JOIN rows_ r USING (event_type)
  JOIN cols_ co USING (hr)
  CROSS JOIN tot t),
dims AS (
  SELECT (SELECT count(*) FROM rows_) AS nr,
         (SELECT count(*) FROM cols_) AS nc,
         (SELECT n FROM tot) AS n)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
       round(sum(micro) / 1000000.0, 4) AS chi2,
       round(sqrt((sum(micro) / 1000000.0)
                  / (n * least(nr - 1, nc - 1))), 6) AS cramers_v
FROM contrib, dims
GROUP BY n, nr, nc
"""


@register("analytics_chi2_event_type_by_hour", _CHI2_ORACLE)
def analytics_chi2_event_type_by_hour(spark, sf_dir):
    """Chi-square test of association between event type and hour of
    day, with Cramér's V effect size — the one-pass categorical
    dependence check a feature-engineering pipeline runs before keeping
    a crossed feature.

    Determinism discipline (the PageRank trick): each cell's chi-square
    contribution (O-E)²/E is ONE scalar double expression —
    bit-identical in both engines — quantized to integer micro-units
    BEFORE the sum, so the only order-sensitive step is order-free
    integer addition.  Scale shape: the event scan collapses map-side
    onto |types| x 24 cells; everything after runs on that tiny frame
    (row/col totals broadcast)."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.hour("ts").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_ij"))
    cells = cells.transform(materialize, eager=True)
    rows_ = cells.groupBy("event_type").agg(F.sum("n_ij").alias("r"))
    cols_ = cells.groupBy("hr").agg(F.sum("n_ij").alias("c"))
    tot = cells.agg(F.sum("n_ij").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    micro = F.round(
        ((F.col("n_ij") - e) * (F.col("n_ij") - e) / e) * 1_000_000.0, 0
    ).cast("long")
    contrib = (
        cells.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols_), "hr")
        .crossJoin(F.broadcast(tot))
        .select(micro.alias("micro"), "n")
    )
    dims = rows_.crossJoin(cols_).agg(
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("hr").alias("nc"),
    )
    chi2 = F.sum("micro") / 1_000_000.0
    return (
        contrib.groupBy("n")
        .agg(F.sum("micro").alias("sum_micro"))
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("n").cast("long").alias("n_events"),
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("long")
            .alias("dof"),
            F.round(F.col("sum_micro") / 1_000_000.0, 4).alias("chi2"),
            F.round(
                F.sqrt(
                    (F.col("sum_micro") / 1_000_000.0)
                    / (
                        F.col("n")
                        * F.least(F.col("nr") - 1, F.col("nc") - 1)
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
    )


_RFM_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_dt,
         count(*) AS n_orders,
         CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
mx AS (SELECT max(last_dt) AS maxd FROM cust),
feat AS (
  SELECT o_custkey, n_orders, cents,
         date_diff('day', last_dt, maxd) AS rec_days
  FROM cust, mx),
scored AS (
  SELECT o_custkey, cents,
         ntile(5) OVER (ORDER BY rec_days, o_custkey) AS r,
         ntile(5) OVER (ORDER BY n_orders DESC, o_custkey) AS f,
         ntile(5) OVER (ORDER BY cents DESC, o_custkey) AS m
  FROM feat)
SELECT r, f, m, count(*) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS monetary_cents
FROM scored GROUP BY 1, 2, 3
"""


@register("analytics_rfm_customer_segments", _RFM_ORACLE)
def analytics_rfm_customer_segments(spark, sf_dir):
    """RFM customer segmentation: quintile scores for Recency (days
    since the customer's last order, vs the corpus's latest order),
    Frequency (order count), and Monetary (lifetime spend in cents),
    summarized per (r, f, m) cell — the classic marketing-analytics
    segmentation, and a second consumer of the distributed exact-ntile
    machinery (quintile 1 = most recent / most frequent / highest
    spend).

    Determinism: every feature is integer (day diffs, counts, cents);
    each quintile's ordering carries the unique ``o_custkey``
    tiebreaker, so ``ntile(5)`` is a total-order pure function both
    engines replay identically.

    Scale shape: the fact collapses to ONE row per customer in a single
    hash agg; the corpus max-date is a 1-row broadcast; each of the
    three quintiles is an ``operators.rank.distributed_ntile`` pass over
    the customer-grain frame (range exchange + bounded per-partition
    windows — never a single-task global sort, see the equi-depth
    entry), and the three scored frames equi-join back on the customer
    key before a 125-cell summary agg.  The customer frame is
    materialized once (localCheckpoint) so the three rank passes don't
    re-run the fact agg."""
    from label_maker_dask_spark.operators.rank import distributed_ntile

    orders = _t(spark, sf_dir, "orders")
    cust = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_dt"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice") * 100, 0)
            .cast("long")
            .alias("cents"),
        )
    )
    maxd = cust.agg(F.max("last_dt").alias("maxd"))
    feat = (
        cust.crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            "n_orders",
            "cents",
            F.datediff("maxd", "last_dt").alias("rec_days"),
        )
        .transform(materialize, eager=True)  # three rank passes read it
    )
    r = distributed_ntile(
        feat.select("o_custkey", "rec_days"), 5,
        ["rec_days", "o_custkey"], bucket_col="r",
    ).select("o_custkey", "r")
    f_ = distributed_ntile(
        feat.select("o_custkey", "n_orders"), 5,
        [F.desc("n_orders"), F.asc("o_custkey")], bucket_col="f",
    ).select("o_custkey", "f")
    m = distributed_ntile(
        feat.select("o_custkey", "cents"), 5,
        [F.desc("cents"), F.asc("o_custkey")], bucket_col="m",
    ).select("o_custkey", "m")
    return (
        feat.select("o_custkey", "cents")
        .join(r, "o_custkey")
        .join(f_, "o_custkey")
        .join(m, "o_custkey")
        .groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("monetary_cents"),
        )
    )


_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS item FROM lineitem),
n_ord AS (SELECT count(DISTINCT okey) AS n FROM baskets),
sup AS (
  SELECT item, count(*) AS n_item FROM baskets GROUP BY 1
  HAVING count(*) >= 8),
fi AS (
  SELECT b.okey, b.item, s.n_item FROM baskets b JOIN sup s USING (item)),
pairs AS (
  SELECT a.item AS item_a, b.item AS item_b,
         max(a.n_item) AS n_a, max(b.n_item) AS n_b,
         count(*) AS n_both
  FROM fi a JOIN fi b ON a.okey = b.okey AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT item_a, item_b, n_both,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(n_both / n_a, 6) AS conf_a_to_b,
       round(n_both / n_b, 6) AS conf_b_to_a,
       round(n_both * n.n / (n_a * n_b), 6) AS lift
FROM pairs, n_ord n
ORDER BY n_both DESC, item_a ASC, item_b ASC
LIMIT 50
"""


@register("analytics_market_basket_part_pairs", _BASKET_ORACLE)
def analytics_market_basket_part_pairs(spark, sf_dir):
    """Market-basket association rules over order baskets: the top-50
    co-purchased part pairs with support, both confidences, and lift —
    the a-priori FIRST PASS (frequent items -> frequent pairs), which is
    where real basket analyses stop on wide catalogs.

    Scale shape: baskets collapse to distinct (order, part) map-side;
    the min-support filter (the a-priori pruning insight: a pair can
    only be frequent if both members are) shrinks the item set BEFORE
    the pair self-join on the order key, whose fan-out per order is
    C(frequent-items-in-order, 2) — bounded by basket width, never
    catalog width.  The final top-50 is a global sort-limit
    (TakeOrdered).  Determinism: supports and pair counts are integers,
    confidences/lift are single rounded divisions, and the output
    ordering is (n_both DESC, item_a, item_b) — a total order free of
    float comparisons."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    ).distinct()
    baskets = baskets.transform(materialize, eager=True)  # three consumers
    n_ord = baskets.agg(F.countDistinct("okey").alias("n"))
    sup = (
        baskets.groupBy("item")
        .agg(F.count(F.lit(1)).alias("n_item"))
        .where(F.col("n_item") >= 8)
    )
    sup = sup.transform(materialize, eager=True)  # filter + two lookups
    # the self-join carries ONLY (okey, item): supports attach to the
    # aggregated pairs afterwards via two broadcast lookups — joining
    # them through the fan-out would widen every candidate row.  fi is
    # materialized once so the self-join's two sides read the same
    # cached narrow frame instead of recomputing the filter per side.
    fi = baskets.join(F.broadcast(sup.select("item")), "item").select(
        "okey", "item"
    )
    fi = fi.transform(materialize, eager=True)
    a, b = fi.alias("a"), fi.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= 2)
    )
    sup_a = sup.select(
        F.col("item").alias("item_a"), F.col("n_item").alias("n_a")
    )
    sup_b = sup.select(
        F.col("item").alias("item_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(sup_a), "item_a")
        .join(F.broadcast(sup_b), "item_b")
        .crossJoin(F.broadcast(n_ord))
        .select(
            "item_a",
            "item_b",
            "n_both",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("n_both") / F.col("n_a"), 6).alias("conf_a_to_b"),
            F.round(F.col("n_both") / F.col("n_b"), 6).alias("conf_b_to_a"),
            F.round(
                F.col("n_both") * F.col("n") / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("n_both"), F.asc("item_a"), F.asc("item_b"))
        .limit(50)
    )


_RATIO_ORACLE = """
WITH nat_rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         CAST(round(sum(o.o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  GROUP BY 1, 2)
SELECT region, nation, rev_cents,
       CAST(sum(rev_cents) OVER (PARTITION BY region) AS BIGINT)
         AS region_cents,
       round(rev_cents / sum(rev_cents) OVER (PARTITION BY region), 6)
         AS region_share,
       round(rev_cents / sum(rev_cents) OVER (), 6) AS global_share
FROM nat_rev
"""


@register("window_ratio_to_report_nation_share", _RATIO_ORACLE)
def window_ratio_to_report_nation_share(spark, sf_dir):
    """Ratio-to-report: each nation's revenue as a share of its region
    and of the world — the classic percent-of-total reporting window
    (Oracle's ``RATIO_TO_REPORT``, Teradata's equivalent), which the
    catalog's window-family rows had not yet pinned.

    Scale shape: the fact collapses to nation grain in one hash agg
    (dims broadcast), so BOTH windows — the per-region partition and
    the unpartitioned global total — run over nation-cardinality rows
    (25 here; bounded by the dimension, never the fact), which is the
    one situation an unpartitioned window is safe by construction (same
    argument as the date-spine gap fill).  Shares divide exact integer
    cents and round once — bit-replayable."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    nat_rev = (
        orders.join(
            F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey")
        )
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.round(F.sum("o_totalprice") * 100, 0)
            .cast("long")
            .alias("rev_cents")
        )
    )
    wr = Window.partitionBy("region")
    wg = Window.partitionBy()
    return nat_rev.select(
        "region",
        "nation",
        "rev_cents",
        F.sum("rev_cents").over(wr).cast("long").alias("region_cents"),
        F.round(F.col("rev_cents") / F.sum("rev_cents").over(wr), 6).alias(
            "region_share"
        ),
        F.round(F.col("rev_cents") / F.sum("rev_cents").over(wg), 6).alias(
            "global_share"
        ),
    )


_LINEAR_ATTR_ORACLE = """
WITH conv AS (
  SELECT event_id AS conv_id, user_id, ts AS conv_ts,
         CAST(round(value * 100, 0) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'purchase'),
touch AS (
  SELECT event_id AS touch_id, user_id, ts AS touch_ts
  FROM events WHERE event_type = 'click'),
credited AS (
  SELECT c.conv_id, c.user_id, c.value_cents, t.touch_id,
         count(*) OVER (PARTITION BY c.conv_id) AS n_touches
  FROM conv c
  JOIN touch t
    ON t.user_id = c.user_id
   AND t.touch_ts <= c.conv_ts
   AND t.touch_ts >= c.conv_ts - INTERVAL 7 DAY)
SELECT touch_id, count(*) AS n_conversions,
       CAST(sum(CAST(round(value_cents * 10000.0 / n_touches, 0)
                     AS BIGINT)) AS BIGINT) AS credited_microcents
FROM credited GROUP BY 1
"""


@register("attribution_linear", _LINEAR_ATTR_ORACLE)
def attribution_linear(spark, sf_dir):
    """LINEAR multi-touch attribution: every click in a purchase's
    7-day lookback shares the conversion's value equally (1/n credit) —
    the multi-touch counterpart of ``attribution_last_touch``, and a
    query that genuinely NEEDS the banded join the last-touch entry
    exists to avoid: linear credit is defined over ALL in-window
    touches, so the (conversion x in-window touch) pairs ARE the
    output's support, not an intermediate to cut down.  The tolerance
    band bounds the fan-out exactly as in the as-of family.

    Determinism: each row's credit quantizes ONCE to integer
    micro-cents (round(value_cents * 1e4 / n), a single
    division+round per row), the per-touch sum is order-free integer
    addition, and the OUTPUT stays integer micro-cents — a raw
    float-quotient sum flipped the 4th decimal between engines, and
    even the quantized sum, once display-rounded, landed on exact .5
    boundaries where the engines' half-rounding modes differ (the
    round-half hazard the repo's cents discipline exists for)."""
    ev = _t(spark, sf_dir, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
    )
    touch = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("touch_ts"),
    )
    c, t = conv.alias("c"), touch.alias("t")
    credited = (
        c.join(
            t,
            (F.col("t.user_id") == F.col("c.user_id"))
            & (F.col("t.touch_ts") <= F.col("c.conv_ts"))
            & (
                F.col("t.touch_ts")
                >= F.col("c.conv_ts") - F.expr("INTERVAL 7 DAY")
            ),
        )
        .select("conv_id", "value_cents", "touch_id")
        .withColumn(
            "n_touches",
            F.count(F.lit(1)).over(Window.partitionBy("conv_id")),
        )
    )
    return credited.groupBy("touch_id").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.sum(
            F.round(
                F.col("value_cents") * 10000.0 / F.col("n_touches"), 0
            ).cast("long")
        )
        .cast("long")
        .alias("credited_microcents"),
    )
