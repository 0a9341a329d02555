"""Graph and anomaly-detection catalog extensions.

Three operators over the event stream, each with a hash-matched DuckDB
oracle:

- ``graph_event_transitions`` — the event-type transition graph: per-user
  consecutive event pairs (lag window), counted per (src, dst) edge with
  the row-normalized transition probability.
- ``graph_pagerank_transitions`` — PageRank (damping 0.85, three unrolled
  power iterations) over that transition graph.  Iterative float linear
  algebra is normally un-oracle-able because summation order leaks ulps;
  here ranks live as *integer* 1e-12 units (the spherical-k-means
  quantization trick, operators/clustering.py): every per-edge
  contribution is a scalar double expression — bit-identical across
  engines — rounded to an integer BEFORE the aggregate, so the only
  cross-engine-order-sensitive step (SUM) is order-free integer addition
  and the DuckDB oracle replays all three iterations exactly.
- ``anomaly_zscore_daily_events`` — per-type daily volumes scored against
  their trailing 7-day window (mean/stddev over the *rounded* daily
  values, so both engines window identical inputs); |z| > 2 flags.

Scale shapes: the transition graph is one user-partitioned lag window
(one shuffle) plus a (src, dst) count whose cardinality is #event-types²
— the iterations that follow join only that tiny edge list and a
k-row rank vector (persisted: three power steps must not re-derive the
window), so PageRank cost is the edge build, not the iteration count.
The z-score is a daily pre-aggregate (map-side partial) followed by a
ROWS-frame window over #days rows per type.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.timeutil import epoch_micros
from label_maker_dask_spark.operators.materialize import materialize
from label_maker_dask_spark.queries_shared import (
    EDGES_CTE as _EDGES_CTE,
    _t,
    register,
)

#: rank unit: 1e12 integer steps per unit of PageRank mass
_PR_SCALE = 1_000_000_000_000.0
_PR_DAMP = 0.85
_PR_ITERS = 3

_TRANSITIONS_ORACLE = f"""
WITH {_EDGES_CTE}
SELECT src, dst, w,
       round(w / (sum(w) OVER (PARTITION BY src)), 6) AS p
FROM edges
"""


@register("graph_event_transitions", _TRANSITIONS_ORACLE)
def graph_event_transitions(spark, sf_dir):
    """Event-type transition graph: consecutive event pairs per user
    (ordered by (ts, event_id) — the id tiebreak makes simultaneous
    events deterministic), counted per directed edge, with the
    row-normalized transition probability.

    Scale shape: one shuffle on user_id for the lag window, then a hash
    aggregate onto #event-types² keys (map-side partials collapse almost
    everything); the probability is a window over the tiny edge list.
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
    return edges.select(
        "src",
        "dst",
        "w",
        F.round(F.col("w") / F.sum("w").over(wsrc), 6).alias("p"),
    )


def transition_edges_chunked(ev, chunk_seconds: int = 3600):
    """Skew-tolerant per-user adjacent-pair edges: identical output to the
    plain ``lag`` build, without any single task owning a hot user.

    A window partitioned by ``user_id`` serializes each user into one
    task; a bot-grade user owning 20% of a 100 TB event stream turns that
    into a straggler that dominates the stage (measured: SCALE.md skew
    probe).  This builder splits every user's timeline into fixed
    time slices and works in two levels:

    1. **within-slice** — ``lag`` over ``(user_id, slice)``: the hot
       user's events spread over as many tasks as slices they span;
    2. **across-slice** — only each slice's FIRST and LAST event (2 rows
       per occupied slice, via ``min_by``/``max_by`` — a hash aggregate,
       no window) enter a per-user window that stitches slice boundaries:
       the predecessor of a slice's first event is exactly the previous
       occupied slice's last event.  This boundary stream is ~2 rows per
       user-slice — even the hot user contributes only #slices×2 rows, so
       the per-user partition is trivially small.

    Every consecutive pair is produced exactly once (within-slice pairs
    at level 1, boundary pairs at level 2; equality with the plain build
    is tested on skewed data in tests/test_graph.py).  The trade is one
    extra hash aggregate + a tiny second window against bounded task
    size; the same carried-boundary idea the stateful streaming builder
    uses across micro-batches (streaming/stateful.py).
    """
    chunk_us = int(chunk_seconds) * 1_000_000
    e = ev.select(
        "user_id",
        "event_type",
        "event_id",
        epoch_micros("ts").alias("_us"),
    ).withColumn("_slice", F.floor(F.col("_us") / F.lit(chunk_us)))

    wslice = Window.partitionBy("user_id", "_slice").orderBy("_us", "event_id")
    within = (
        e.withColumn("_src", F.lag("event_type").over(wslice))
        .where(F.col("_src").isNotNull())
        .select(F.col("_src").alias("src"), F.col("event_type").alias("dst"))
    )

    order_key = F.struct("_us", "event_id")
    row = F.struct("_us", "event_id", "event_type")
    bounds = e.groupBy("user_id", "_slice").agg(
        F.min_by(row, order_key).alias("f"),
        F.max_by(row, order_key).alias("l"),
    )
    # a single-event slice contributes the same event as both entries;
    # _kind orders the 'last' entry after the 'first' so a first-event's
    # lag is always the PREVIOUS slice's last event
    boundary = bounds.select(
        "user_id", F.col("f._us").alias("_us"),
        F.col("f.event_id").alias("event_id"),
        F.col("f.event_type").alias("event_type"),
        F.lit(0).alias("_kind"),
    ).unionByName(
        bounds.select(
            "user_id", F.col("l._us").alias("_us"),
            F.col("l.event_id").alias("event_id"),
            F.col("l.event_type").alias("event_type"),
            F.lit(1).alias("_kind"),
        )
    )
    wuser = Window.partitionBy("user_id").orderBy("_us", "event_id", "_kind")
    across = (
        boundary.withColumn("_src", F.lag("event_type").over(wuser))
        .where((F.col("_kind") == 0) & F.col("_src").isNotNull())
        .select(F.col("_src").alias("src"), F.col("event_type").alias("dst"))
    )

    return (
        within.unionByName(across)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )


@register("graph_event_transitions_chunked", _TRANSITIONS_ORACLE)
def graph_event_transitions_chunked(spark, sf_dir):
    """The transition graph built by the skew-tolerant chunked path —
    same oracle as ``graph_event_transitions``, so the driver's
    hash-match is the proof the two builds agree."""
    edges = transition_edges_chunked(_t(spark, sf_dir, "events"))
    wsrc = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        "w",
        F.round(F.col("w") / F.sum("w").over(wsrc), 6).alias("p"),
    )


def _pagerank_oracle() -> str:
    base_lit = f"{(1.0 - _PR_DAMP) * _PR_SCALE!r}"
    steps = []
    for k in range(1, _PR_ITERS + 1):
        steps.append(
            f"""r{k} AS (
  SELECT nd.node,
         CAST(round({base_lit} / (SELECT n FROM nn)) AS BIGINT)
           + coalesce(c.contrib, 0) AS r
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node,
           CAST(sum(CAST(round({_PR_DAMP} * r.r * e.w / o.wout) AS BIGINT))
                AS BIGINT) AS contrib
    FROM r{k - 1} r JOIN edges e ON e.src = r.node
                    JOIN wout o ON o.src = e.src
    GROUP BY 1) c ON c.node = nd.node)"""
        )
    chain = ",\n".join(steps)
    return f"""
WITH {_EDGES_CTE},
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT count(*) AS n FROM nodes),
wout AS (SELECT src, sum(w) AS wout FROM edges GROUP BY 1),
r0 AS (
  SELECT node, CAST(round({_PR_SCALE!r} / (SELECT n FROM nn)) AS BIGINT) AS r
  FROM nodes),
{chain}
SELECT node AS event_type, round(r / {_PR_SCALE!r}, 6) AS pagerank
FROM r{_PR_ITERS}
"""


@register("graph_pagerank_transitions", _pagerank_oracle())
def graph_pagerank_transitions(spark, sf_dir):
    """PageRank over the event-type transition graph — damping 0.85,
    three unrolled power iterations, integer-quantized ranks (module
    docstring: the per-edge term ``round(d·r·w/W)`` is scalar double
    arithmetic, identical in any engine; the cross-partition SUM is
    integer, so partial-aggregation order cannot leak float noise and
    the oracle replays every iteration bit-for-bit).

    Dangling mass (a node with no out-edges) decays rather than
    redistributing — identically in both engines; with per-user event
    streams every observed type has out-transitions in practice.

    Scale shape: the expensive part is building the edge list (one lag
    window + tiny hash agg, as ``graph_event_transitions``); it and the
    node set persist so the three iterations join k-row and k²-row
    cached frames — per iteration one broadcast-able join + an integer
    sum onto k keys, nothing proportional to the event volume.
    """
    return pagerank_event_transitions(_t(spark, sf_dir, "events"))


def pagerank_event_transitions(ev):
    """Core PageRank plan over an events frame — see
    :func:`graph_pagerank_transitions` (the catalog wrapper) for the
    algorithm and replay contract; split out so property tests can drive
    arbitrary event frames against a pure-Python reference."""
    wseq = Window.partitionBy("user_id").orderBy(epoch_micros("ts"), "event_id")
    edges = (
        ev.select(
            F.lag("event_type").over(wseq).alias("src"),
            F.col("event_type").alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
        # lazy localCheckpoint, not persist(): every power iteration
        # references this frame, and checkpoint blocks are GC-released
        # instead of pinned in the cache manager for the session.
        # NOT executor-loss tolerant on a real cluster — knob in
        # operators/materialize.py switches to persist/checkpoint.
        .transform(materialize)
    )
    nn = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # node set with the count attached ONCE (one broadcast, reused by the
    # seed and every iteration's base term — not re-joined per pass)
    nodes = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .crossJoin(F.broadcast(nn))
        .transform(materialize)  # same GC-released reuse as edges
    )
    wout = edges.groupBy("src").agg(F.sum("w").alias("wout"))

    ranks = nodes.select(
        "node",
        F.round(F.lit(_PR_SCALE) / F.col("n"), 0).cast("long").alias("r"),
    )
    base = (1.0 - _PR_DAMP) * _PR_SCALE
    for _ in range(_PR_ITERS):
        term = (
            F.round(
                F.lit(_PR_DAMP) * F.col("r") * F.col("w") / F.col("wout"), 0
            )
            .cast("long")
        )
        contrib = (
            ranks.join(F.broadcast(edges), ranks["node"] == edges["src"])
            .join(F.broadcast(wout), "src")
            .select(F.col("dst").alias("node"), term.alias("t"))
            .groupBy("node")
            .agg(F.sum("t").alias("contrib"))
        )
        ranks = nodes.join(F.broadcast(contrib), "node", "left").select(
            "node",
            (
                F.round(F.lit(base) / F.col("n"), 0).cast("long")
                + F.coalesce(F.col("contrib"), F.lit(0))
            ).alias("r"),
        )
    return ranks.select(
        F.col("node").alias("event_type"),
        F.round(F.col("r") / F.lit(_PR_SCALE), 6).alias("pagerank"),
    )


_ZSCORE_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, day, v,
         avg(v) OVER w AS mu, stddev_samp(v) OVER w AS sd,
         count(*) OVER w AS n_prior
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
SELECT event_type, day, v AS daily_value,
       round(mu, 6) AS trailing_mean,
       CASE WHEN n_prior >= 3 AND sd > 1e-9
            THEN round((v - mu) / sd, 6) END AS zscore,
       CASE WHEN n_prior >= 3 AND sd > 1e-9
                 AND abs(round((v - mu) / sd, 6)) > 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM stats
"""


@register("anomaly_zscore_daily_events", _ZSCORE_ORACLE)
def anomaly_zscore_daily_events(spark, sf_dir):
    """Trailing z-score anomaly detection on per-type daily volumes: each
    day is scored against the mean/stddev of its own type's preceding 7
    days (never including itself), flagged at |z| > 2 with a 3-sample
    minimum.  The window reads the *rounded* daily values, so both
    engines feed identical doubles into mean/stddev, and the flag
    compares the rounded z — boundary decisions can't straddle an ulp.

    Scale shape: the daily rollup is a map-side-partial hash aggregate
    (events collapse to #types × #days rows before any shuffle-heavy
    work); the ROWS frame then scans #days rows per type.  This is the
    volume-monitoring pattern a training-data ingest pipeline runs on
    every source.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
    )
    return zscore_over_daily(daily)


def zscore_over_daily(daily):
    """Scoring stage over a ``(event_type, day, v)`` daily frame — split
    from the rollup so the same view runs over a STORED daily table
    maintained by the streaming CDC upsert sink (the continuous-aggregate
    loop: `streaming/upsert.py` keeps the rollup current, this window
    scores it; equals-batch tested)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    stats = daily.select(
        "event_type",
        "day",
        F.col("v").alias("daily_value"),
        F.avg("v").over(w).alias("mu"),
        F.stddev_samp("v").over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    ok = (F.col("n_prior") >= 3) & (F.col("sd") > 1e-9)
    z = F.round((F.col("daily_value") - F.col("mu")) / F.col("sd"), 6)
    return stats.select(
        "event_type",
        "day",
        "daily_value",
        F.round(F.col("mu"), 6).alias("trailing_mean"),
        F.when(ok, z).alias("zscore"),
        F.when(ok & (F.abs(z) > 2.0), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_anomaly"
        ),
    )


_MAD_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2),
pairs AS (
  SELECT t.event_type, t.day, t.v, p.v AS pv
  FROM daily t JOIN daily p
    ON p.event_type = t.event_type
   AND p.day >= t.day - INTERVAL 7 DAY AND p.day < t.day),
med AS (
  SELECT event_type, day, count(*) AS n_prior,
         round(median(pv), 6) AS med
  FROM pairs GROUP BY 1, 2),
mad AS (
  SELECT p.event_type, p.day,
         round(median(abs(round(p.pv - m.med, 6))), 6) AS mad,
         round(avg(abs(round(p.pv - m.med, 6))), 6) AS meanad
  FROM pairs p JOIN med m
    ON m.event_type = p.event_type AND m.day = p.day
  GROUP BY 1, 2),
scaled AS (
  SELECT event_type, day, mad,
         CASE WHEN mad > 1e-9 THEN round(mad * 1.4826, 6)
              ELSE round(meanad * 1.2533, 6) END AS scale
  FROM mad)
SELECT d.event_type, d.day, d.v AS daily_value,
       m.med AS trailing_median, a.mad AS trailing_mad,
       CASE WHEN m.n_prior >= 3 AND a.scale > 1e-9
            THEN round((d.v - m.med) / a.scale, 6) END
         AS robust_z,
       CASE WHEN m.n_prior >= 3 AND a.scale > 1e-9
                 AND abs(round((d.v - m.med) / a.scale, 6)) > 3.5
            THEN 1 ELSE 0 END AS is_anomaly
FROM daily d
LEFT JOIN med m ON m.event_type = d.event_type AND m.day = d.day
LEFT JOIN scaled a ON a.event_type = d.event_type AND a.day = d.day
"""


@register("anomaly_mad_daily_events", _MAD_ORACLE)
def anomaly_mad_daily_events(spark, sf_dir):
    """Robust trailing anomaly scoring: each day's per-type volume against
    the MEDIAN and MAD (median absolute deviation, x1.4826 to match sigma
    under normality) of its preceding 7 days, flagged at |robust z| > 3.5
    (the standard Iglewicz-Hoaglin cut; when MAD degenerates to 0 — over
    half the window exactly at its median, common on discrete counts —
    the scale falls back to the mean absolute deviation x1.2533, the
    usual modified-z fallback).  The mean/stddev z-score
    (``anomaly_zscore_daily_events``) is itself dragged by the outliers
    it is meant to flag — one extreme day inflates sigma and masks the
    next; medians don't budge, the reason ingest monitoring prefers MAD.

    The trailing frame needs the deviation |v_i - med_t| of every prior
    day against the CURRENT day's median — a two-level dependence no
    single window frame expresses — so the plan is a bounded range
    self-join on the tiny daily rollup (#types x #days rows; the 7-day
    bound keeps fan-out at <= 7) with two median aggregations.  Medians
    interpolate identically in both engines over the rounded dailies."""
    ev = _t(spark, sf_dir, "events")
    # the (#types x #days)-row rollup feeds SEVEN plan branches inside
    # mad_over_daily (both self-join sides, the med/mad re-joins, the
    # final left joins) and Spark re-ran the fact scan + agg for each —
    # a lazy localCheckpoint computes it once (r18; same share-the-pass
    # shape as q11/q15, values bit-identical)
    daily = (
        ev.groupBy(
            "event_type", F.date_trunc("day", F.col("ts")).alias("day")
        )
        .agg(F.round(F.sum("value"), 6).alias("v"))
        .localCheckpoint(eager=False)
    )
    return mad_over_daily(daily)


def mad_over_daily(daily):
    """Scoring stage over a ``(event_type, day, v)`` daily frame — split
    from the rollup so the same view runs over a STORED daily table
    maintained by the streaming CDC upsert sink, exactly like
    :func:`zscore_over_daily` (equals-batch tested in
    tests/test_stream_upsert.py)."""
    t = daily.alias("t")
    p = daily.alias("p")
    pairs = t.join(
        p,
        (F.col("p.event_type") == F.col("t.event_type"))
        & (F.col("p.day") >= F.col("t.day") - F.expr("INTERVAL 7 DAY"))
        & (F.col("p.day") < F.col("t.day")),
    ).select(
        F.col("t.event_type").alias("event_type"),
        F.col("t.day").alias("day"),
        F.col("p.v").alias("pv"),
    )
    med = pairs.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_prior"),
        F.round(F.median("pv"), 6).alias("med"),
    )
    mad = (
        pairs.join(med, ["event_type", "day"])
        .select(
            "event_type", "day",
            F.abs(F.round(F.col("pv") - F.col("med"), 6)).alias("dev"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.round(F.median("dev"), 6).alias("mad"),
            F.round(F.avg("dev"), 6).alias("meanad"),
        )
        .withColumn(
            "scale",
            F.when(
                F.col("mad") > 1e-9, F.round(F.col("mad") * F.lit(1.4826), 6)
            ).otherwise(F.round(F.col("meanad") * F.lit(1.2533), 6)),
        )
        .drop("meanad")
    )
    ok = (F.col("n_prior") >= 3) & (F.col("scale") > 1e-9)
    rz = F.round((F.col("v") - F.col("med")) / F.col("scale"), 6)
    return (
        daily.join(med, ["event_type", "day"], "left")
        .join(mad, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.col("v").alias("daily_value"),
            F.col("med").alias("trailing_median"),
            F.col("mad").alias("trailing_mad"),
            F.when(ok, rz).alias("robust_z"),
            F.when(ok & (F.abs(rz) > 3.5), F.lit(1))
            .otherwise(F.lit(0))
            .alias("is_anomaly"),
        )
    )


_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(round(sum(value) * 1000, 0) AS BIGINT) AS v
  FROM events GROUP BY 1, 2),
stats AS (
  SELECT event_type, CAST(sum(v) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n,
         CAST(CAST(sum(v * v) AS BIGINT) AS DOUBLE) AS ss
  FROM daily GROUP BY 1),
params AS (
  SELECT event_type, s / CAST(n AS DOUBLE) AS mu,
         sqrt((ss - (CAST(s AS DOUBLE) * s) / n) / (n - 1)) AS sd
  FROM stats WHERE n >= 2),
dev AS (
  SELECT d.event_type, d.day, d.v,
         CAST(round((d.v - p.mu - p.sd / 2) * 1e6, 0) AS BIGINT) AS yq,
         CAST(round((d.v - p.mu + p.sd / 2) * 1e6, 0) AS BIGINT) AS y2q,
         CAST(round(p.sd * 4 * 1e6, 0) AS BIGINT) AS hq
  FROM daily d JOIN params p ON p.event_type = d.event_type),
cum AS (
  SELECT event_type, day, v, hq,
         CAST(sum(yq) OVER w AS BIGINT) AS c,
         CAST(sum(-y2q) OVER w AS BIGINT) AS dn
  FROM dev
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
forms AS (
  SELECT event_type, day, v, hq,
         CAST(c - least(0, min(c) OVER w) AS BIGINT) AS sp,
         CAST(dn - least(0, min(dn) OVER w) AS BIGINT) AS sn
  FROM cum
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type, day,
       v / 1000.0 AS daily_value,
       sp AS cusum_pos_q,
       sn AS cusum_neg_q,
       CASE WHEN sp > hq OR sn > hq THEN 1 ELSE 0 END AS is_shift
FROM forms
"""


@register("anomaly_cusum_daily_events", _CUSUM_ORACLE)
def anomaly_cusum_daily_events(spark, sf_dir):
    """CUSUM change-point detection on per-type daily volumes — the
    classic tabular CUSUM (allowance k = sigma/2, decision interval
    h = 4*sigma against the series' own mean): where the z-score and
    MAD entries flag single outlier DAYS, CUSUM accumulates small
    persistent drifts and flags LEVEL SHIFTS — the slow-degradation
    failure (a source quietly dropping 10% of its volume) that
    per-day scoring never trips on.  The clamped recurrence
    ``S+_t = max(0, S+_{t-1} + (x_t - mu - k))`` is not a plain window
    sum, but the reflected-random-walk closed form is:
    ``S+_t = C_t - min(0, min_{j<=t} C_j)`` over the deviation cumsum
    ``C`` — two chained window functions (cumulative sum, then prefix
    min) on the SAME (type, day) sort, so Spark plans one shuffle and
    one sort for all four sequences.

    Cross-engine determinism: daily volumes quantize to integer
    milli-units (the first step is still a double sum per (type, day)
    whose accumulation order is engine-dependent — the same accepted
    rounding convention as the z-score/MAD entries, here at a coarser
    1e-3 grain); from there mu/sd derive from exact integer sums with
    the identical double expression tree in both engines (IEEE ops on
    equal inputs are equal), and per-day deviations quantize to
    integer 1e-9-value units BEFORE the cumulative sums, so every
    DOWNSTREAM order-sensitive aggregation is exact integer addition
    and the CUSUM state columns are emitted as exact integers
    (``*_q``, nano-value units) with no terminal float rounding.  The
    quantization headroom holds to daily volumes of ~9e9 (long
    overflow in the sum-of-squares), far past this table's scale.

    No counterpart in the reference (batch tile pipeline only); this
    is Part-B engine surface: the ingest-monitoring pattern a 100 TB
    training-data pipeline runs per source per day, on a frame whose
    cardinality is #types x #days regardless of event volume.
    """
    ev = _t(spark, sf_dir, "events")
    # daily feeds the params agg AND the deviation join — checkpoint the
    # (#types x #days) rollup so the fact scan + agg runs once (r18)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(
        F.round(F.sum("value") * 1000, 0).cast("long").alias("v")
    ).localCheckpoint(eager=False)
    stats = daily.groupBy("event_type").agg(
        F.sum("v").alias("s"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v") * F.col("v")).cast("double").alias("ss"),
    )
    params = stats.where(F.col("n") >= 2).select(
        "event_type",
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("ss")
                - (F.col("s").cast("double") * F.col("s")) / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    dev = daily.join(F.broadcast(params), "event_type").select(
        "event_type",
        "day",
        "v",
        F.round((F.col("v") - F.col("mu") - F.col("sd") / 2) * 1e6, 0)
        .cast("long")
        .alias("yq"),
        F.round((F.col("v") - F.col("mu") + F.col("sd") / 2) * 1e6, 0)
        .cast("long")
        .alias("y2q"),
        F.round(F.col("sd") * 4 * 1e6, 0).cast("long").alias("hq"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dev.select(
        "event_type",
        "day",
        "v",
        "hq",
        F.sum("yq").over(w).alias("c"),
        F.sum(-F.col("y2q")).over(w).alias("dn"),
    )
    forms = cum.select(
        "event_type",
        "day",
        "v",
        "hq",
        (F.col("c") - F.least(F.lit(0).cast("long"), F.min("c").over(w))).alias(
            "sp"
        ),
        (
            F.col("dn") - F.least(F.lit(0).cast("long"), F.min("dn").over(w))
        ).alias("sn"),
    )
    return forms.select(
        "event_type",
        "day",
        (F.col("v") / F.lit(1000.0)).alias("daily_value"),
        F.col("sp").alias("cusum_pos_q"),
        F.col("sn").alias("cusum_neg_q"),
        F.when((F.col("sp") > F.col("hq")) | (F.col("sn") > F.col("hq")), 1)
        .otherwise(0)
        .alias("is_shift"),
    )


_TRIANGLE_ORACLE = """
WITH li AS (
  SELECT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE year(o.o_orderdate) = 1995),
e AS (
  SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li a
  JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
  GROUP BY node),
tri AS (
  SELECT count(*) AS t
  FROM e e1
  JOIN e e2 ON e2.pa = e1.pa AND e2.pb > e1.pb
  JOIN e e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
wedge AS (SELECT sum(d * (d - 1) / 2) AS w FROM deg)
SELECT (SELECT count(*) FROM deg) AS n_nodes,
       (SELECT count(*) FROM e) AS n_edges,
       t AS n_triangles,
       round(3.0 * t / w, 6) AS global_clustering
FROM tri, wedge
"""


@register("graph_triangle_copurchase", _TRIANGLE_ORACLE)
def graph_triangle_copurchase(spark, sf_dir):
    """Triangle count + global clustering coefficient of the
    co-purchase graph (parts are adjacent when they share a 1995
    order) — the canonical whole-graph analytics kernel, and
    deliberately on a REAL derived graph (~180k edges at sf0.1), not
    the tiny event-type transition graph.  The year slice bounds the
    m^1.5 kernel to bench scale; the full-graph variant is the same
    plan with the orders filter dropped (measured 1.2M edges /
    1.88M triangles / ~30 s at sf0.1 on local[32]).

    Scale shape — compact-forward with DEGREE ORIENTATION: every edge
    is oriented from its lower-(degree, id) endpoint to the higher, so
    wedge candidates enumerate per node over OUT-degree only; out-
    degree under this orientation is bounded by ~sqrt(2m) regardless of
    raw hub degree, which turns the sum-of-degree-squared wedge
    explosion (the thing that kills naive triangle counting on skewed
    graphs) into the theoretical-optimal m^1.5 bound.  All three legs
    are plain shuffle joins on integer keys; the orientation changes
    candidate volume only — the COUNT is orientation-invariant, which
    is why the oracle can replay the naive a<b formulation and still
    hash-match.  The edge list materializes once (localCheckpoint) and
    feeds the degree pass, the wedge join, and the closing join; the
    clustering coefficient is exact-integer arithmetic (3T / sum
    C(deg,2)) with one rounded division at the end."""
    orders_1995 = (
        _t(spark, sf_dir, "orders")
        .where(F.year("o_orderdate") == 1995)
        .select("o_orderkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .join(orders_1995, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .distinct()
        .transform(materialize, eager=True)
    )
    deg = (
        e.select(F.col("pa").alias("node"))
        .unionAll(e.select(F.col("pb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient each edge low-(degree,id) -> high-(degree,id)
    ed = (
        e.join(deg.withColumnRenamed("node", "pa").withColumnRenamed("d", "da"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"), "pb")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(a_first, F.col("da")).otherwise(F.col("db")).alias("du"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).transform(materialize, eager=True)
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.u") == F.col("o2.u"))
        & (
            (F.col("o1.dv") < F.col("o2.dv"))
            | (
                (F.col("o1.dv") == F.col("o2.dv"))
                & (F.col("o1.v") < F.col("o2.v"))
            )
        ),
    ).select(
        F.least(F.col("o1.v"), F.col("o2.v")).alias("pa"),
        F.greatest(F.col("o1.v"), F.col("o2.v")).alias("pb"),
    )
    tri = wedges.join(e, ["pa", "pb"]).agg(
        F.count(F.lit(1)).alias("t")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum(F.col("d") * (F.col("d") - 1)) / 2).cast("long").alias("w"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(n_edges))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.round(F.lit(3.0) * F.col("t") / F.col("w"), 6).alias(
                "global_clustering"
            ),
        )
    )


_SEASONAL_DOW_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         round(sum(value), 6) AS v
  FROM events GROUP BY 1, 2),
dowd AS (SELECT event_type, day, dayofweek(day)::BIGINT AS dow, v FROM daily),
stats AS (
  SELECT event_type, dow, sum(v) AS s, sum(v * v) AS q, count(*) AS n
  FROM dowd GROUP BY 1, 2),
loo AS (
  SELECT d.event_type, d.day, d.dow, d.v,
         round((s.s - d.v) / nullif(s.n - 1, 0), 6) AS mu,
         CASE WHEN s.n >= 4 THEN round(sqrt(greatest(0e0,
           (s.q - d.v * d.v
            - (s.n - 1) * ((s.s - d.v) / (s.n - 1))
                        * ((s.s - d.v) / (s.n - 1)))
           / (s.n - 2))), 6) END AS sd,
         s.n AS n
  FROM dowd d JOIN stats s ON d.event_type = s.event_type AND d.dow = s.dow)
SELECT event_type, day, dow, v AS daily_value, mu AS dow_loo_mean,
       CASE WHEN n >= 4 AND sd > 1e-9
            THEN round((v - mu) / sd, 6) END AS seasonal_z,
       CASE WHEN n >= 4 AND sd > 1e-9
                 AND abs(round((v - mu) / sd, 6)) > 2.0
            THEN 1 ELSE 0 END AS is_anomaly
FROM loo
"""


@register("anomaly_seasonal_dow_residual", _SEASONAL_DOW_ORACLE)
def anomaly_seasonal_dow_residual(spark, sf_dir):
    """Seasonality-adjusted anomaly detection: each (type, day) volume is
    scored against the LEAVE-ONE-OUT mean/stddev of its own day-of-week
    cohort — the weekly-seasonal complement of
    anomaly_zscore_daily_events' trailing window (a quiet Sunday is
    normal for Sundays even when it is a 3-sigma dip against the trailing
    week).  Leave-one-out matters: include-self cohort stats cap any
    single outlier's z at ~sqrt(n) (the spike inflates its own baseline
    — masking); excluding the scored day restores unbounded sensitivity
    (tests/test_graph.py pins a 5-Monday spike at z~758 that include-self
    stats would pass at 1.79).  LOO stats come from cohort (n, sum,
    sum-of-squares) in closed form — one agg, no per-row re-aggregation.
    Flag at |z| > 2 with >=3 OTHER cohort samples (n >= 4).  Day-of-week
    convention: 0 = Sunday (Spark dayofweek()-1 == DuckDB dayofweek()).

    FP contract: daily v is rounded before stats; LOO mean and sd are
    rounded before z; z compares rounded — every boundary decision reads
    identical doubles in both engines.  Scale shape: the rollup collapses
    map-side to #types x #days rows; the 7-cohort stats frame is tiny and
    broadcast back — the fact table never shuffles twice."""
    ev = _t(spark, sf_dir, "events")
    # daily feeds the cohort stats AND the scoring join — checkpoint the
    # (#types x #days) rollup so the fact scan + agg runs once (r18)
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("v")).localCheckpoint(eager=False)
    dowd = daily.select(
        "event_type",
        "day",
        (F.dayofweek("day") - 1).cast("long").alias("dow"),
        "v",
    )
    stats = dowd.groupBy("event_type", "dow").agg(
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("q"),
        F.count(F.lit(1)).alias("n"),
    )
    v, s, q, n = F.col("v"), F.col("s"), F.col("q"), F.col("n")
    mu = F.round((s - v) / F.nullif(n - 1, F.lit(0)), 6)
    sd = F.when(
        n >= 4,
        F.round(
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    (q - v * v - (n - 1) * ((s - v) / (n - 1)) * ((s - v) / (n - 1)))
                    / (n - 2),
                )
            ),
            6,
        ),
    )
    loo = (
        dowd.join(F.broadcast(stats), ["event_type", "dow"])
        .select("event_type", "day", "dow", "v",
                mu.alias("mu"), sd.alias("sd"), "n")
    )
    ok = (F.col("n") >= 4) & (F.col("sd") > 1e-9)
    z = F.round((F.col("v") - F.col("mu")) / F.col("sd"), 6)
    return loo.select(
        "event_type",
        "day",
        "dow",
        F.col("v").alias("daily_value"),
        F.col("mu").alias("dow_loo_mean"),
        F.when(ok, z).alias("seasonal_z"),
        F.when(ok & (F.abs(z) > 2.0), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_anomaly"),
    )
