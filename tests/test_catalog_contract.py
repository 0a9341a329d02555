"""Driver-contract tests over the whole query catalog: every entry must
survive the driver's oracle compare, which (a) canonicalizes results with a
pandas sort — array/map/struct cells are unsortable and crash it — and
(b) hashes values under columns *sorted by name*, so Spark and oracle
column names must match exactly.  The oracle side is checked with a
DuckDB DESCRIBE (parse+bind only, no execution), so this stays fast."""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

import duckdb
import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import label_maker_dask_spark.queries as Q

SF = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF}/{t}.parquet')"
        )
    return con


def test_every_oracle_key_has_a_query():
    assert set(Q.ORACLES) <= set(Q.QUERIES)


# The driver's correctness gate checks exactly the first 50 registered
# queries; queries.py curates that window explicitly (_DRIVER_WINDOW).
# This pin makes any reordering an INTENTIONAL edit of both lists, never
# a side effect of moving a registration between modules.
PINNED_DRIVER_WINDOW = [
    "timeseries_ema30_daily_revenue",
    "transitions_chunked_hotuser_adversarial",
    "unpivot_lineitem_metrics",
    "window_ntile_length_deciles",
    "window_percent_rank_cume_dist",
    "window_top3_orders_with_ties",
    "window_trailing7_distinct_users_exact",
    "window_trailing_1h_user_activity",
    "window_value_frames",
    "agg_approx_distinct_users",
    "agg_approx_percentiles_sampled",
    "agg_corr_covar_by_returnflag",
    "agg_cube_segment_priority",
    "agg_histogram_order_totals",
    "agg_kmv_merged_weekly_users",
    "agg_kmv_setops_weekday_weekend",
    "analytics_chi2_event_type_by_hour",
    "analytics_event_path_trigrams",
    "analytics_event_type_cooccurrence",
    "attribution_last_touch",
    "curation_hotcomponent_adversarial",
    "curation_mixture_resample",
    "curation_quality_funnel",
    "curation_repeat_upsample",
    "curation_semdedup_cluster_profiles",
    "dedup_cluster_representatives",
    "dedup_containment_lsh_pairs",
    "dedup_fuzzy_part_names",
    "embedding_kmeans_clusters_arrow",
    "events_sessionize_30m_chunked",
    "events_sliding_1h_30m",
    "graph_event_transitions_chunked",
    "join_asof_forward_next_event",
    "join_asof_latest_order_merge",
    "join_full_nation_supplier",
    "join_range_orders_near_event",
    "join_theta_acctbal",
    "profile_join_key_skew_lineitem",
    "q2_min_price_supplier",
    "q4_order_priority",
    "q7_volume_shipping",
    "q8_market_share",
    "quality_expectations_orders",
    "sample_stratified_by_lang",
    "sample_weighted_by_quality",
    "segmentation_buffered_ring_areas",
    "similarity_neardup_srp_ann",
    "stream_transitions_restart_replay",
    "text_bigram_top20",
    "text_chunk_sliding_overlap",
]


def test_driver_window_is_pinned():
    assert list(Q.QUERIES)[:50] == PINNED_DRIVER_WINDOW
    Q.validate_driver_window()


ROOT = pathlib.Path(__file__).resolve().parent.parent
CATALOG = ROOT / "label_maker_dask_spark"
EXT_MODULES = sorted(p.stem for p in CATALOG.glob("queries_*_ext.py"))

# import ``argv[1]`` first, then the catalog, and print both registries'
# orders (Python-level and C-level iteration)
_ORDER_PROBE = """
import importlib, json, sys
importlib.import_module(sys.argv[1])
import label_maker_dask_spark.queries as Q
print(json.dumps([list(Q.QUERIES), list(dict(Q.QUERIES)), list(Q.ORACLES)]))
"""


@pytest.mark.parametrize("first", EXT_MODULES)
def test_catalog_order_does_not_depend_on_the_first_import(first):
    """A process that imports an ext module before ``queries`` sees the
    same registry order, window first, as one that imports ``queries``
    first."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _ORDER_PROBE, f"label_maker_dask_spark.{first}"],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    ).stdout
    queries, raw, oracles = json.loads(out.splitlines()[-1])
    assert queries == list(Q.QUERIES)
    assert raw == list(dict(Q.QUERIES))
    assert oracles == list(Q.ORACLES)
    assert queries[:50] == PINNED_DRIVER_WINDOW


def _imported_modules(tree):
    """(line, dotted name) for each module or name an import statement
    names, relative imports resolved against the package."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(
                    p for p in ("label_maker_dask_spark", node.module) if p
                )
            yield node.lineno, base
            for alias in node.names:
                yield node.lineno, f"{base}.{alias.name}"


def test_catalog_modules_do_not_import_queries():
    """The ext modules and ``queries_shared`` import nothing from
    ``queries``: the catalog imports one way, so no registry is ever
    seen half-built by a circular import."""
    paths = sorted(CATALOG.glob("queries_*.py"))
    assert len(paths) == len(EXT_MODULES) + 1
    offenders = [
        f"{path.name}:{line}"
        for path in paths
        for line, name in _imported_modules(ast.parse(path.read_text()))
        if name == "label_maker_dask_spark.queries"
    ]
    assert not offenders, f"imports of queries: {offenders}"


def test_window_matches_rotation_derivation():
    """Round-15 policy: the window is DERIVED, not hand-picked.  The
    committed _DRIVER_WINDOW must equal tools/rotate_window.py's
    derivation (never-gated entries first — which automatically pulls in
    entries new this round — then least-recently-gated), computed over
    the gating history BEFORE the round this window gates in
    (Q._DRIVER_WINDOW_ROUND — same exclusion as
    test_window_retirement_discipline: the round's closing gate must not
    retroactively flip the rotation decision that preceded it).  Adding
    a catalog entry without re-running the tool fails here."""
    import importlib.util
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "rotate_window", os.path.join(repo, "tools", "rotate_window.py")
    )
    rw = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rw)
    history = rw.gating_history(
        repo, exclude_round=Q._DRIVER_WINDOW_ROUND
    )
    derived = rw.derive_window(
        sorted(dict.keys(Q.QUERIES)), repo, last=history
    )
    assert list(Q._DRIVER_WINDOW) == derived
    assert PINNED_DRIVER_WINDOW == list(Q._DRIVER_WINDOW)


def test_driver_window_entries_all_have_value_hash_oracles():
    # rows-only entries would waste a driver-gate slot
    assert all(n in Q.ORACLES for n in PINNED_DRIVER_WINDOW)


def test_catalog_outputs_are_scalar_and_oracle_columns_match(spark, oracle_con):
    failures = []
    for name in sorted(Q.QUERIES):
        df = Q.QUERIES[name](spark, SF)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if complex_cols:
            failures.append(f"{name}: non-scalar output columns {complex_cols}")
        sql = Q.ORACLES.get(name)
        if sql:
            ocols = [
                r[0] for r in oracle_con.execute(f"DESCRIBE {sql}").fetchall()
            ]
            if sorted(ocols) != sorted(df.columns):
                failures.append(
                    f"{name}: spark cols {sorted(df.columns)} != "
                    f"oracle cols {sorted(ocols)}"
                )
    assert not failures, "\n".join(failures)


# ---------------------------------------------------------------------------
# Driver-evidence coverage ledger (round 10).  The driver only ever gates
# the 50-slot window, so catalog entries accumulate driver-side evidence
# through window ROTATION.  This ledger makes that coverage a tested
# invariant: every catalog entry must be (a) already gated in a committed
# CORRECTNESS_r*.json, (b) scheduled in the current window, or (c) listed
# below as awaiting rotation.  Adding a new query without either putting
# it in the window or consciously appending it here fails the test —
# silent evidence gaps can no longer appear.  Entries leave this list as
# rotation gates them (a gated name lingering here also fails, keeping
# the ledger honest).
ROTATION_BACKLOG: list = [
    # empty since round 15: the window is now DERIVED from the gating
    # history (tools/rotate_window.py), so new entries flow into the
    # next window mechanically instead of waiting here.
]


def _driver_gated_ever() -> set:
    import glob
    import json
    import os

    gated: set = set()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            gated |= set(json.load(open(f)).keys())
        except Exception:
            pass
    return gated


def test_every_catalog_entry_has_a_driver_evidence_path():
    gated = _driver_gated_ever()
    window = set(PINNED_DRIVER_WINDOW)
    backlog = set(ROTATION_BACKLOG)
    uncovered = [
        n for n in Q.QUERIES
        if n not in gated and n not in window and n not in backlog
    ]
    assert not uncovered, (
        "catalog entries with no driver-evidence path (not gated, not in "
        f"the window, not in the rotation backlog): {uncovered} — rotate "
        "them into _DRIVER_WINDOW or add them to ROTATION_BACKLOG "
        "deliberately"
    )
    stale = sorted(backlog & gated)
    assert not stale, (
        f"rotation backlog entries already driver-gated: {stale} — remove "
        "them so the ledger reflects reality"
    )
    overlap = sorted(backlog & window)
    assert not overlap, (
        f"entries in both the window and the backlog: {overlap}"
    )


def _last_gated_round() -> dict:
    import glob
    import json
    import os
    import re

    last: dict = {}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        try:
            for name in json.load(open(f)):
                last[name] = max(last.get(name, 0), rnd)
        except Exception:
            pass
    return last


def test_window_retirement_discipline():
    """Steady-state rotation invariant (round 13, backlog now empty):
    every driver-window seat must EARN its slot — it is either a
    never-gated entry (first evidence) or an entry whose newest
    committed driver evidence is at least 2 rounds stale (re-confirm).
    Entries gated in the latest or previous round may not re-occupy a
    seat, so future rounds can't silently re-gate the same 50 and
    starve fresh entries of evidence.

    Evidence from the round this window gates in or later
    (Q._DRIVER_WINDOW_ROUND — the explicit window identity) is excluded:
    the invariant judges the rotation DECISION, which was made before
    that evidence existed — without the exclusion the test would flip
    red the moment the driver records the very gate the window was
    built for."""
    last = {
        n: r
        for n, r in _last_gated_round().items()
        if r < Q._DRIVER_WINDOW_ROUND
    }
    if not last:
        pytest.skip("no committed CORRECTNESS_r*.json yet")
    latest = max(last.values())
    fresh = [
        f"{n} (last gated r{last[n]})"
        for n in PINNED_DRIVER_WINDOW
        if n in last and last[n] > latest - 2
    ]
    assert not fresh, (
        "driver-window seats wasted on entries with fresh evidence "
        f"(gated after r{latest - 2}): {fresh} — rotate in never-gated "
        "or stalest-evidence entries instead"
    )
