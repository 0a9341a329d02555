"""The query catalog's leaf module: the registries, the testdata loader
and the oracle fragments that more than one catalog module uses.

It imports nothing from the catalog.  Every ``queries_*_ext`` module
imports from here only, ``queries.py`` imports every ext module and
re-exports these names, and the bottom of ``queries.py`` orders both
registries once, after every module has registered.
"""

from __future__ import annotations

import weakref
from typing import Callable, Dict, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from label_maker_dask_spark.functions.text import HASH_P
from label_maker_dask_spark.operators import dedup as D

#: name -> query and name -> DuckDB oracle SQL, in registration order
#: until ``queries.py`` orders them (driver window first)
QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: Dict[str, str] = {}


def register(name: str, oracle: Optional[str] = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Sessions already configured by :func:`session_defaults`.  Keyed on the
#: session object itself via a WeakSet, not ``id(spark)``: CPython reuses
#: freed addresses, so an id-keyed set would silently SKIP configuring a
#: new session allocated at a dead session's address — wrong timezone,
#: wrong nanos handling, corrupted timestamp arithmetic.  The weak
#: reference drops the entry when the session is GC'd, so a reused
#: address always reconfigures.
_SESSIONS_CONFIGURED: "weakref.WeakSet" = weakref.WeakSet()


def session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the catalog's session configuration once per session — the
    single place the engine mutates session state (queries themselves are
    side-effect-free):

    - UTC session timezone, so TIMESTAMP_NTZ epoch arithmetic matches
      DuckDB's ``epoch_us`` on naive timestamps (functions/timeutil.py);
    - ``nanosAsLong``, so a TIMESTAMP(NANOS) regeneration of the testdata
      (which stock Spark refuses to read) degrades to a long column that
      :func:`_t` converts explicitly instead of a read-time error.

    Entry points (``__spark_entry__``, ``bench.py``, the test session
    fixture) call this directly; :func:`_t` also routes through it so a
    catalog query handed a fresh session still runs correctly."""
    if spark not in _SESSIONS_CONFIGURED:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        _SESSIONS_CONFIGURED.add(spark)
    return spark


#: inferred parquet schema per testdata table path — METADATA only,
#: never data or results: every action over a ``_t`` frame still scans
#: the parquet files.  ``spark.read.parquet`` re-infers the schema from
#: file footers on EVERY call (~50-60 ms per read at sf0.1 vs ~12 ms
#: with an explicit schema — measured round 18), and the catalog calls
#: ``_t`` 1-3x per query x 258 queries x 2 bench passes, so the
#: re-inference alone costs 15-30 s per bench pass.  Safe to key on the
#: path because the testdata directories are immutable for a process's
#: lifetime (this cache is NOT for maintained/mutable tables — those
#: keep their schema in their own state records, read by
#: ``streaming.commit.read_stored``).
_T_SCHEMAS: dict = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a testdata table.  The events table has carried TIMESTAMP(NANOS)
    across driver regenerations, which Spark's parquet reader rejects by
    default — session_defaults reads nanos as long, and this loader
    truncates to micros with integer arithmetic (``div``, not double
    division: epoch-nanos exceed a double's 53-bit mantissa).  DuckDB
    truncates nanos to its micro timestamps the same way, so the engines
    agree."""
    session_defaults(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _T_SCHEMAS.get(path)
    if schema is None:
        # one inference per table per process (nanosAsLong is set above,
        # so a TIMESTAMP(NANOS) column infers as long here exactly as it
        # did on the uncached path)
        schema = spark.read.parquet(path).schema
        _T_SCHEMAS[path] = schema
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


#: one process-lifetime temp root per consumer module, removed at
#: interpreter exit.  Cleanup must be DEFERRED: entries that write a
#: layout/table and return a LAZY frame over it are collected by the
#: driver after the function returns, so eager cleanup would read a
#: deleted directory — and without the atexit hook, repeated
#: invocations (bench best-of-2, oracle replays, driver gates) would
#: accumulate sf-sized scratch in /tmp until the disk fills.
_TMP_ROOTS: dict = {}


def session_tmpdir(root_key: str, prefix: str) -> str:
    """A fresh ``prefix``-named scratch dir under the per-``root_key``
    process-lifetime root (see above).  Shared by the streaming replay
    harness and the layout entries — one cleanup contract, not N copies
    of it."""
    import atexit
    import shutil
    import tempfile

    root = _TMP_ROOTS.get(root_key)
    if root is None:
        root = tempfile.mkdtemp(prefix=f"lmds_{root_key}_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        _TMP_ROOTS[root_key] = root
    return tempfile.mkdtemp(prefix=prefix + "_", dir=root)


_PUNCT_RE = r"[^.,;:!?'\"()\[\]{}-]"
#: whitespace spelled explicitly (functions/text.py WS_CLASS rationale:
#: Java's \s includes \x0B, RE2's does not — a bare \s+ silently
#: diverges between the Spark tokenizer and these oracles)
_TOKS_SQL = "list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'), t -> t != '')"


#: feature-property lookup the GL-filter oracles pass to
#: ``filters.filter_sql`` (props JSON plays the feature properties)
_GL_ORACLE_LOOKUP = "json_extract_string({props}, '$.' || {key})"


def _shingle_cte(n: int = 3) -> str:
    """Shared oracle CTE: distinct (doc_id, shingle-hash) pairs mirroring
    operators/dedup.doc_shingles (token char-folds combined arithmetically
    into shingle hashes, per-doc list_distinct)."""
    from label_maker_dask_spark.functions.text import shingle_hashes_sql

    shs = shingle_hashes_sql("t", n)
    return f"""
    toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
    shr AS (SELECT doc_id, list_distinct({shs}) AS shs FROM toks),
    sh AS (SELECT doc_id, unnest(shs) AS sh FROM shr),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    """


def _minhash_oracle(k: int = 16, bands: int = 4, threshold: float = 0.12) -> str:
    coeffs = D.MINHASH_COEFFS[:k]
    mins = ", ".join(
        f"min((sh * {a} + {b}) % {HASH_P}) AS mh{j}"
        for j, (a, b) in enumerate(coeffs)
    )
    rows_per_band = k // bands
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band, {concat} AS bsig FROM sig".format(
            bi=bi,
            concat="||'-'||".join(
                f"mh{bi * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
            ),
        )
        for bi in range(bands)
    )
    return f"""
    WITH {_shingle_cte()},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    banded AS ({band_selects}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c JOIN sh a ON a.doc_id = c.id_a
                  JOIN sh b ON b.doc_id = c.id_b AND a.sh = b.sh
      GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = id_a
               JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= {threshold}
    """


#: lag-window edge list over the event stream — the transition-graph
#: base shared by the graph queries (queries_graph_ext) and the k-hop
#: BFS (queries_scale_ext)
EDGES_CTE = """
seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS src
  FROM events),
edges AS (
  SELECT src, event_type AS dst, count(*) AS w
  FROM seq WHERE src IS NOT NULL GROUP BY 1, 2)
"""


def components_cte() -> str:
    """The recursive-CTE chain computing connected components over the
    MinHash-LSH pair graph, WITHOUT a trailing SELECT — terminal CTE is
    ``comps (id, component)`` (plus ``csizes``).  The single source of
    truth consumers extend with their own CTEs/SELECT
    (``components_oracle`` below, the leakage-safe split's oracle in
    queries_pipeline_ext)."""
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_oracle()}),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    nodes AS (SELECT DISTINCT s AS id FROM edges),
    reach(id, comp) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT e.d, r.comp FROM reach r JOIN edges e ON e.s = r.id),
    comps AS (SELECT id, min(comp) AS component FROM reach GROUP BY id),
    csizes AS (SELECT component, count(*) AS component_size
               FROM comps GROUP BY 1)"""


def components_oracle() -> str:
    """Per-doc components with sizes — shared by
    ``dedup_components_minhash`` (queries_pipeline_ext) and
    ``dedup_cluster_representatives`` (queries_analytics_ext)."""
    return f"""
    {components_cte()}
    SELECT c.id AS doc_id, c.component, s.component_size
    FROM comps c JOIN csizes s USING (component)
    """


#: sliding 1h/30m window counts — shared by the batch entry
#: (queries.py events_sliding_1h_30m) and its streaming replay twin
#: (queries_streaming_replay_ext.py): each event lands in exactly two
#: windows, replayed via unnest of the two bucket starts.
SLIDING_1H30_ORACLE = """
SELECT ws AS window_start, count(*) AS n_events
FROM (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
         AS ws
  FROM events)
GROUP BY ws
"""

#: hourly OHLC rollup over the event stream — shared by the batch entry
#: (queries_relational_ext ``timeseries_ohlc_hourly_by_type``) and its
#: streaming replay twin (queries_streaming_replay_ext): the open/close
#: argmins are replayed with two row_number windows, while both Spark
#: paths ride min/max-of-struct argmin aggregates (one hash aggregate,
#: map-side partials — the shape that survives 100 TB)
OHLC_ORACLE = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events)
SELECT event_type, bucket,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n
FROM b GROUP BY event_type, bucket
"""


def image_channel_sums(images, decode):
    """Shared (z, x, y, image binary) -> (z, x, y, channel, px_sum)
    mapInPandas stage for the transport/codec gates (WMS 3857/UTM, JPEG
    tiles): decode each fetched blob with ``decode(bytes) -> (H, W[, C])
    uint8`` and emit per-channel pixel sums.  One definition so the
    channel loop and output schema cannot drift between entries.

    ``decode`` must be importable/pickle-friendly (a module-level
    function or a closure over plain data) — it runs executor-side."""
    import numpy as np
    import pandas as pd

    def sums(batches):
        for pdf in batches:
            out = []
            for z, x, y, blob in zip(
                pdf["z"], pdf["x"], pdf["y"], pdf["image"]
            ):
                px = decode(bytes(blob))
                if px.ndim == 2:
                    px = px[:, :, None]
                for ch in range(px.shape[2]):
                    out.append(
                        (
                            int(z),
                            int(x),
                            int(y),
                            ch,
                            int(px[:, :, ch].astype(np.int64).sum()),
                        )
                    )
            if out:
                yield pd.DataFrame(
                    out, columns=["z", "x", "y", "channel", "px_sum"]
                )

    return images.mapInPandas(
        sums, "z int, x int, y int, channel int, px_sum long"
    )


def _recall_oracle_from(exact_sql: str, ann_sql: str) -> str:
    """Compose two top-k oracle SELECTs into a per-query recall count —
    the intersected hit count of the approximate top-k against the exact
    one (both queries already rank deterministically)."""
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({exact_sql})),
    ann AS (SELECT query_id, neighbor_id FROM ({ann_sql}))
    SELECT e.query_id,
           count(*) AS n_exact,
           CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit
    FROM exact e LEFT JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
    """


def _recall_counts(exact, ann):
    """Per-query intersection counts of two deterministic top-k frames."""
    hits = ann.select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count(F.col("hit")).alias("n_hit"),
        )
    )


#: power-of-two n_cells ladder targeting ~64 vectors per cell, floor 16
#: — constant per-cell occupancy keeps probe work per query CONSTANT as
#: the corpus grows (n_probe x occupancy), where a fixed cell count
#: makes it linear per query and quadratic overall.  Pure integer
#: comparisons so Spark and DuckDB derive the identical cell count from
#: the identical corpus (a float log2/sqrt could round differently at
#: exact powers).  The floor keeps corpora <= 1024 exactly on the
#: historical n_cells=16 behavior (tests, gates).  Capped at 1024:
#: past that, a trained quantizer replaces lowest-id seed centroids
#: anyway (operators/clustering.py is the upgrade path).  The 1024-cell
#: ceiling is ORACLE-CORPUS sizing, not the production rule: past ~65k
#: vectors occupancy grows linearly again under this ladder, and the
#: stored-IVF/production path (operators/similarity.py) takes an
#: explicit ``n_cells`` derived from the real corpus count instead.
_IVF_CELL_LADDER = [(1024, 16), (2048, 32), (4096, 64), (8192, 128),
                    (16384, 256), (32768, 512)]


def _ivf_auto_cells(n: int) -> int:
    for bound, cells in _IVF_CELL_LADDER:
        if n <= bound:
            return cells
    return 1024


#: Corpus row counts memoized per sf_dir so query *construction* costs at
#: most one count job per directory per process — the IVF entries need the
#: count to size the cell ladder, and without the memo every call (including
#: plan-only inspection that never executes the query) re-scanned the corpus.
_CORPUS_COUNT_CACHE: dict = {}


def _emb_count(spark: SparkSession, sf_dir) -> int:
    key = str(sf_dir)
    if key not in _CORPUS_COUNT_CACHE:
        _CORPUS_COUNT_CACHE[key] = _t(spark, sf_dir, "embeddings").count()
    return _CORPUS_COUNT_CACHE[key]


def _ivf_cells_sql(src: str = "embeddings") -> str:
    """The ladder as a scalar subquery over the corpus row count."""
    whens = " ".join(
        f"WHEN count(*) <= {bound} THEN {cells}"
        for bound, cells in _IVF_CELL_LADDER
    )
    return f"(SELECT CASE {whens} ELSE 1024 END FROM {src})"


def _ivf_oracle(
    filter_pred: str, k: int = 5, n_probe: int = 4,
    src: str = "embeddings",
) -> str:
    """``src`` names the corpus relation — a view or a parenthesized
    inline SELECT (the planted-cluster recall gate passes the latter)."""
    from label_maker_dask_spark.functions.vectors import (
        normalized_sql,
        unit_dot_rounded_sql,
        unit_dot_sql,
    )

    nv = normalized_sql("embedding")
    return f"""
    WITH cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, {nv} AS cv
      FROM (SELECT * FROM {src} ORDER BY vec_id
            LIMIT {_ivf_cells_sql(src)})),
    corpus AS (SELECT vec_id, {nv} AS nv FROM {src}),
    assign AS (
      SELECT c.vec_id, cent.cell,
             row_number() OVER (
               PARTITION BY c.vec_id
               ORDER BY {unit_dot_sql('c.nv', 'cent.cv')} DESC,
                        cent.cell ASC) AS rn
      FROM corpus c CROSS JOIN cent),
    cells AS (SELECT vec_id, cell FROM assign WHERE rn = 1),
    qs AS (SELECT vec_id, nv FROM corpus WHERE {filter_pred}),
    qprobe AS (
      SELECT q.vec_id AS query_id, cent.cell,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY {unit_dot_sql('q.nv', 'cent.cv')} DESC,
                        cent.cell ASC) AS rn
      FROM qs q CROSS JOIN cent),
    probed AS (SELECT query_id, cell FROM qprobe WHERE rn <= {n_probe}),
    scored AS (
      SELECT p.query_id, cl.vec_id AS neighbor_id,
             {unit_dot_rounded_sql('q.nv', 'n.nv')} AS cosine_sim
      FROM probed p
      JOIN cells cl ON cl.cell = p.cell
      JOIN qs q ON q.vec_id = p.query_id
      JOIN corpus n ON n.vec_id = cl.vec_id
      WHERE p.query_id != cl.vec_id)
    SELECT query_id, rank, neighbor_id, cosine_sim FROM (
      SELECT *, row_number() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, neighbor_id ASC) AS rank
      FROM scored)
    WHERE rank <= {k}
    """
