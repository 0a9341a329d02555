"""Tests for the benchmark's own helpers: percentile, span self time, the
/proc process-tree RSS sampler, the closed loop and the input generator.

    python3 -m pytest perfbench -q
"""

import os
import statistics
import subprocess
import sys
import time

import pytest

from perfbench import gen, harness
from perfbench.trace import Span, Tracer, percentile, self_times

# --- percentile --------------------------------------------------------------


def test_percentile_returns_value_and_sample_count():
    assert percentile([3.0, 1.0, 2.0], 50) == (2.0, 3)
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == (2.5, 4)
    assert percentile([5.0], 99) == (5.0, 1)


def test_percentile_interpolates_between_ranks():
    xs = list(range(1, 101))
    assert percentile(xs, 0) == (1, 100)
    assert percentile(xs, 100) == (100, 100)
    assert percentile(xs, 90)[0] == pytest.approx(90.1)
    for n in range(1, 12):
        vals = [float(v * v) for v in range(n)]
        assert percentile(vals, 50)[0] == statistics.median(vals)


@pytest.mark.parametrize("bad", [[], None])
def test_percentile_rejects_no_samples(bad):
    with pytest.raises((ValueError, TypeError)):
        percentile(bad, 50)


def test_percentile_rejects_out_of_range_q():
    with pytest.raises(ValueError):
        percentile([1.0], 101)


# --- spans and self time -----------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span(0, "job", 0.0, 10.0, None, 1),
        Span(1, "tiles", 1.0, 2.0, 0, 1),
        Span(2, "labels", 3.0, 7.0, 0, 1),
        Span(3, "inner", 4.0, 5.0, 2, 1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)  # 10 - (1 + 4)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0)  # grandchild only counts once, for its parent
    assert st[3] == pytest.approx(1.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    spans = [
        Span(0, "p", 0.0, 10.0, None, None),
        Span(1, "a", 1.0, 5.0, 0, None),
        Span(2, "b", 3.0, 6.0, 0, None),  # overlaps a: union 1..6
        Span(3, "c", 9.0, 12.0, 0, None),  # runs past the parent: clipped to 9..10
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 5.0 - 1.0)


def test_tracer_nests_and_inherits_op_id():
    tr = Tracer(enabled=True)
    with tr.span("job", op=7):
        with tr.span("tiles"):
            time.sleep(0.01)
    job, tiles = tr.spans
    assert tiles.parent == job.id and tiles.op == 7 and job.parent is None
    assert job.start <= tiles.start <= tiles.end <= job.end
    assert tr.self_time("job")[0] == pytest.approx(job.duration - tiles.duration)


def test_disabled_tracer_records_nothing(tmp_path):
    tr = Tracer(enabled=False)
    with tr.span("job", op=1):
        pass
    assert tr.spans == []
    tr.dump(str(tmp_path / "spans.json"))
    assert (tmp_path / "spans.json").read_text() == "[]"


# --- /proc process tree and RSS ----------------------------------------------


def _fake_proc(root, procs, uptime_s=1000.0):
    """procs: pid -> (ppid, resident pages, command name, start time in
    seconds after boot)."""
    hz = os.sysconf("SC_CLK_TCK")
    for pid, (ppid, pages, comm, start) in procs.items():
        d = root / str(pid)
        d.mkdir()
        fields = ["S", str(ppid)] + ["0"] * 17 + [str(int(start * hz))] + ["0"] * 10
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")
        (d / "statm").write_text(f"1000 {pages} 10 1 0 50 0\n")
    (root / "self").mkdir()  # non-numeric entries are skipped
    (root / "uptime").write_text(f"{uptime_s} 1.0\n")


def test_process_tree_and_rss_from_fake_proc(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, 100, "python3", 10.0),
        11: (10, 200, "java", 11.0),
        12: (11, 300, "python3 -m pyspark.daemon", 20.0),  # spaces safe
        13: (12, 400, "worker) x", 30.0),  # ')' in the name is safe
        20: (1, 5000, "other", 5.0),
    })
    assert harness.process_tree(10, str(tmp_path)) == {10, 11, 12, 13}
    page = os.sysconf("SC_PAGE_SIZE")
    assert harness.tree_rss_bytes(10, str(tmp_path)) == 1000 * page
    assert harness.tree_rss_bytes(11, str(tmp_path)) == 900 * page
    assert harness.rss_bytes(99, str(tmp_path)) == 0


def test_process_tree_skips_children_younger_than_min_age(tmp_path):
    # 14 was spawned by the JVM 0.1 s ago and still shares its memory
    _fake_proc(tmp_path, {
        10: (1, 100, "python3", 10.0),
        11: (10, 2000, "java", 11.0),
        12: (11, 300, "python3", 900.0),
        14: (11, 2000, "jspawnhelper", 999.9),
    }, uptime_s=1000.0)
    assert harness.process_tree(10, str(tmp_path), min_age_s=1.0) == {10, 11, 12}
    assert harness.process_tree(10, str(tmp_path)) == {10, 11, 12, 14}
    page = os.sysconf("SC_PAGE_SIZE")
    assert harness.tree_rss_bytes(10, str(tmp_path), min_age_s=1.0) == 2400 * page


def test_rss_sampler_sees_a_live_child():
    child = subprocess.Popen(
        [sys.executable, "-c", "b = bytearray(64 << 20); import time; time.sleep(5)"]
    )
    try:
        deadline = time.monotonic() + 10
        while harness.rss_bytes(child.pid) < 64 << 20 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert child.pid in harness.process_tree(os.getpid())
        with harness.RssSampler(os.getpid(), interval_s=0.01, min_age_s=0.0) as rss:
            time.sleep(0.1)
        assert rss.samples >= 2
        assert rss.peak >= harness.rss_bytes(child.pid) >= 64 << 20
    finally:
        child.kill()
        child.wait(timeout=10)
    assert child.poll() is not None


def test_rss_sampler_reset_during_a_scan_drops_that_scan(monkeypatch):
    import threading

    started, release = threading.Event(), threading.Event()

    def slow_scan(*_):
        started.set()
        release.wait(5)
        return 123

    monkeypatch.setattr(harness, "tree_rss_bytes", slow_scan)
    rss = harness.RssSampler(os.getpid())  # thread not started
    scan = threading.Thread(target=rss.sample)
    scan.start()
    assert started.wait(5)
    reset = threading.Thread(target=rss.reset)
    reset.start()
    time.sleep(0.05)  # reset() is now waiting for the scan
    release.set()
    scan.join(5)
    reset.join(5)
    assert (rss.peak, rss.samples) == (0, 0)


# --- closed loop -------------------------------------------------------------


def test_closed_loop_runs_until_time_and_min_ops():
    ids = []

    def op(i):
        ids.append(i)
        time.sleep(0.02)
        return 0.02

    lat = harness.closed_loop(op, seconds=0.1, first_id=3)
    assert len(lat) == len(ids) >= 4 and ids[0] == 3
    assert ids == list(range(3, 3 + len(ids)))
    ids.clear()
    assert len(harness.closed_loop(op, seconds=0.0, first_id=0, min_ops=3)) == 3


# --- input generator ---------------------------------------------------------


def test_same_seed_same_bytes_other_seed_differs():
    a = gen.input_digest(11)
    assert gen.input_digest(11) == a
    assert gen.input_digest(12) != a


def test_job_inputs_decode_to_the_recorded_facts():
    from label_maker_dask_spark.filters_local import feature_passes
    from label_maker_dask_spark.sources import mvt

    job = gen.make_job_inputs(5, side=6, imagery=False)
    assert len(job.mvt) == job.block.n_tiles == 36 and job.tiff == b""
    assert 0 < job.empty_tiles < 36
    for xy, blob in job.mvt.items():
        feats = mvt.decode(blob).get("osm", {}).get("features", [])
        fact = job.facts[xy]
        assert len(feats) == fact.n_features
        presence = [
            int(any(feature_passes(c["filter"], f) for f in feats))
            for c in gen.CLASSES
        ]
        assert [int(not any(presence))] + presence == fact.presence


def test_job_bounds_cover_exactly_the_block():
    from label_maker_dask_spark.tiles import tile_range

    block = gen.make_block(__import__("numpy").random.default_rng(3), 22)
    x0, y0, x1, y1 = tile_range(block.job_bounds(), block.z)
    assert (x0, y0, x1 - x0 + 1, y1 - y0 + 1) == (block.x0, block.y0, 22, 22)


def test_cdc_log_mix_and_replay():
    log = gen.CdcLog(9, snapshot_rows=1000, batch_rows=100)
    snap = log.snapshot().to_pandas()
    table = dict(zip(snap["k"], zip(snap["v"], snap["tag"])))
    it = log.batches()
    for _ in range(5):
        b = next(it).to_pandas()
        assert len(b) == 100 and b["k"].is_unique
        live_before = set(table)
        deleted = b[b["deleted"]]
        kept = b[~b["deleted"]]
        assert len(deleted) == 10 and set(deleted["k"]) <= live_before
        inserts = set(kept["k"]) - live_before
        assert len(inserts) == 10 and len(kept) - len(inserts) == 80
        for k in deleted["k"]:
            del table[k]
        for k, v, t in zip(kept["k"], kept["v"], kept["tag"]):
            table[k] = (v, t)
    assert table == log.live
