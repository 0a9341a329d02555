"""The three workloads: two ``LabelMakerJob`` runs and the bucketed-upsert
sink.  Each workload sets itself up from a seed, runs identical warm ops
(``op``), checks every op's output against the generator's facts, and
reports its end-to-end and per-layer metrics."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import gen, harness
from perfbench.trace import Tracer

# Fixed traffic dimensions (BENCHMARK.json repeats them in each ``why``).
# Every run starts its own JVM (about 8 s) and pays an 11-19 s cold first
# op, and all runs of the benchmark must fit in 3420 s, so the block is
# 22x22 tiles: a warm op takes about 2.5-3.5 s on a 4-core box.  At 44x44
# it takes 6.2-7.1 s, which leaves one timed op per run.  Most of a 22x22
# op does not scale with the tile count: at 11x11 (121 tiles) a warm op
# takes about 2.2 s (segmentation) and 2.0 s (imagery), against 2.5-3.5 s
# here, and still burns about 3.5 s of JVM CPU and 4 s of Python-worker
# CPU (about 4.5 s and 6.5 s at 22x22).  These workloads mostly time work
# each layer does once per op, not per tile.
BLOCK_SIDE = 22  # tiles per op = BLOCK_SIDE**2 = 484
SINK_BUCKETS = 64
# Warm-up ops before timing, from latency series measured on that box.  A
# job's first op is 3-5x slower than the later ones and its second is
# still 10-15% slower than its third; the sink's snapshot batch takes
# about 13 s, its first three change batches 4.4-6.7, 3.6-5.0 and
# 3.1-4.3 s, and later ones fall slowly towards 2.8-3.3 s.  Warm-up is
# paid in every run's set-up, so it stops where the fall flattens.
JOB_WARMUP = 2
SINK_WARMUP = 3


class Workload:
    """Common run state: the session, the scratch directory, the tracer,
    the output-check failures and the per-op samples of layer counters."""

    name = ""
    items_per_op = 0
    warmup = 0

    def __init__(self, spark, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        # (op id, or None when the whole run is wrong; what failed)
        self.failures: List[Tuple[Optional[int], str]] = []
        self.samples: Dict[str, List[float]] = defaultdict(list)

    def fail(self, op: Optional[int], why: str) -> None:
        self.failures.append((op, why))

    def finish(self) -> None:
        """Checks that need the whole run, after the last op."""

    def kernels(self) -> Dict[str, float]:
        """Per-item times of the pure-Python kernels, timed in this process."""
        return {}


def _materialize(df):
    """Cache ``df`` and compute it, so a span around this call holds the
    layer's whole cost; returns the cached frame and its row count."""
    df = df.cache()
    n = df.count()
    return df, n


# --- LabelMakerJob workloads -------------------------------------------------


class JobWorkload(Workload):
    ml_type = ""
    imagery = False
    warmup = JOB_WARMUP

    def setup(self) -> None:
        self.inputs = gen.make_job_inputs(self.seed, BLOCK_SIDE, self.imagery)
        self.items_per_op = self.inputs.block.n_tiles
        mvt_dir = os.path.join(self.work, "inputs", "mvt")
        os.makedirs(mvt_dir)
        z = self.inputs.block.z
        for (x, y), blob in self.inputs.mvt.items():
            with open(os.path.join(mvt_dir, f"{z}-{x}-{y}.mvt"), "wb") as fh:
                fh.write(blob)
        self.tiff_path = None
        if self.imagery:
            self.tiff_path = os.path.join(self.work, "inputs", "mosaic.tif")
            with open(self.tiff_path, "wb") as fh:
                fh.write(self.inputs.tiff)
        self.out = os.path.join(self.work, "out")

        from label_maker_dask_spark.sources.vector_tiles import decoding_tile_fetcher

        def get_bytes(z: int, x: int, y: int) -> bytes:
            with open(os.path.join(mvt_dir, f"{z}-{x}-{y}.mvt"), "rb") as fh:
                return fh.read()

        self.fetcher = decoding_tile_fetcher(get_bytes)

    def _job(self):
        from label_maker_dask_spark import LabelMakerJob

        return LabelMakerJob(
            self.spark,
            zoom=self.inputs.block.z,
            bounds=self.inputs.block.job_bounds(),
            classes=gen.CLASSES,
            imagery=self.tiff_path,
            ml_type=self.ml_type,
            tile_fetcher=self.fetcher,
        )

    def op(self, i: int) -> float:
        job = self._job()
        t0 = time.perf_counter()
        job.execute_job(path=self.out, mode="overwrite")
        dt = time.perf_counter() - t0
        self.check(i, job.metrics)
        return dt

    def group_op(self, i: int) -> float:
        """An untraced op run under its own Spark job group, for the job
        and task counts."""
        group = f"perfbench-op-{i}"
        self.spark.sparkContext.setJobGroup(group, group)
        try:
            dt = self.op(i)
        finally:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        jobs, tasks = harness.job_and_task_counts(self.spark, group)
        self.samples["jobs"].append(jobs)
        self.samples["tasks"].append(tasks)
        return dt

    def traced_op(self, i: int) -> float:
        """The same op with each layer materialized in its own span, so
        ``execute_job`` itself is left with pairing, observe and write."""
        from pyspark.sql import functions as F

        job = self._job()
        cached = []
        t0 = time.perf_counter()
        with self.tracer.span("job", op=i):
            with self.tracer.span("tiles"):
                tiles, _ = _materialize(job.tiles())
            job.tiles = lambda: tiles
            with self.tracer.span("sources.vector_tiles"):
                feats, n_feats = _materialize(job.features())
            job.features = lambda: feats
            with self.tracer.span("labels"):
                labels, _ = _materialize(job.labels())
            job.labels = lambda: labels
            cached += [tiles, feats, labels]
            if self.imagery:
                with self.tracer.span("sources.imagery"):
                    images, _ = _materialize(job.images())
                job.images = lambda: images
                cached.append(images)
            job.execute_job(path=self.out, mode="overwrite")
        dt = time.perf_counter() - t0
        self.samples["features"].append(n_feats)
        if self.imagery:
            total = images.agg(F.sum(F.length("image"))).first()[0]
            self.samples["image_bytes"].append(total / self.items_per_op)
        for df in cached:
            df.unpersist()
        self.check(i, job.metrics)
        return dt

    def check(self, i: int, metrics: Optional[dict]) -> None:
        n = self.items_per_op
        metrics = metrics or {}
        self.samples["rows_written"].append(metrics.get("rows_written", 0))
        self.samples["tiles_with_image"].append(metrics.get("tiles_with_image", 0))
        if metrics.get("rows_written") != n:
            self.fail(i, f"rows_written {metrics.get('rows_written')} != {n}")
        if self.imagery and metrics.get("tiles_with_image") != n:
            self.fail(i, f"tiles_with_image {metrics.get('tiles_with_image')} != {n}")
        out = pq.read_table(self.out, columns=["x", "y", "label"]).to_pandas()
        facts = self.inputs.facts
        keys = list(zip(out["x"].tolist(), out["y"].tolist()))
        if len(keys) != n or set(keys) != set(facts):
            self.fail(i, "output tiles differ from the block")
            return
        bad, burned = 0, 0
        for xy, label in zip(keys, out["label"]):
            fact = facts[xy]
            if self.ml_type == "classification":
                bad += list(label) != fact.presence
                continue
            arr = np.frombuffer(label, dtype=np.uint8)
            classes = set(np.unique(arr).tolist()) - {0}
            burned += bool(classes)
            present = {c for c in range(1, len(fact.presence)) if fact.presence[c]}
            bad += (
                arr.size != 256 * 256
                or bool(classes) != fact.has_match
                or not classes <= present
            )
        if bad:
            self.fail(i, f"{bad} tiles with wrong labels")
        self.samples["burned"].append(burned / n)

    def out_bytes_per_item(self) -> float:
        """Parquet bytes of the last op's output per tile."""
        return harness.dir_bytes(self.out, ".parquet") / self.items_per_op

    def kernels(self) -> Dict[str, float]:
        from label_maker_dask_spark.filters import compile_filter
        from label_maker_dask_spark.raster import rasterize
        from label_maker_dask_spark.sources import mvt, tiff

        blobs = [self.inputs.mvt[xy] for xy in self.inputs.block.tiles()]
        out = {
            "sources.mvt.decode_us": _per_item_us(
                lambda: [mvt.decode(b) for b in blobs], len(blobs)
            ),
            # per compile of all the classes' filters
            "filters.compile_ms": _per_item_us(
                lambda: [[compile_filter(c["filter"]) for c in gen.CLASSES]
                         for _ in range(20)], 20
            ) / 1e3,
        }
        if self.ml_type == "segmentation":
            shapes = [_pixel_shapes(mvt.decode(b)) for b in blobs]
            out["raster.rasterize_us"] = _per_item_us(
                lambda: [rasterize(s) for s in shapes], len(shapes)
            )
        if self.imagery:
            tif = tiff.TiffFile(self.inputs.tiff)
            z = self.inputs.block.z
            tiles = self.inputs.block.tiles()
            out["sources.tiff.read_tile_us"] = _per_item_us(
                lambda: [tiff.read_tile(tif, z, x, y) for x, y in tiles], len(tiles)
            )
        return out

    def per_layer(self) -> Dict[str, float]:
        """Medians over the ops of the traced run.  Layers this workload
        does not run are left out (and reported as 0)."""
        st = self.tracer.self_time
        med = statistics.median
        out = {
            "tiles.s": med(st("tiles")),
            "sources.vector_tiles.s": med(st("sources.vector_tiles")),
            "sources.vector_tiles.features": med(self.samples["features"]),
            "labels.s": med(st("labels")),
            "job.self_s": med(st("job")),
            "job.rows_written": med(self.samples["rows_written"]),
            "job.tiles_with_image": med(self.samples["tiles_with_image"]),
            "job.spark_jobs": med(self.samples["jobs"]),
            "job.spark_tasks": med(self.samples["tasks"]),
        }
        if self.ml_type == "segmentation":
            out["labels.tiles_burned_ratio"] = med(self.samples["burned"])
        if self.imagery:
            out["sources.imagery.s"] = med(st("sources.imagery"))
            out["sources.imagery.bytes_per_tile"] = med(self.samples["image_bytes"])
        return out


def _per_item_us(fn, n: int, passes: int = 3) -> float:
    """Median over ``passes`` of the mean microseconds per item of ``fn``."""
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) / n * 1e6)
    return statistics.median(times)


def _pixel_shapes(decoded: dict) -> list:
    """Rasterize input for one tile, as the segmentation burn builds it:
    every feature matching a class, converted to pixel space by the
    package's own conversion, with the class id and buffer."""
    from label_maker_dask_spark.filters_local import feature_passes
    from label_maker_dask_spark.labels import _convert_geom

    shapes = []
    for f in decoded.get("osm", {}).get("features", []):
        geom = _convert_geom(f["geometry"])
        for k, cls in enumerate(gen.CLASSES):
            if feature_passes(cls["filter"], f):
                shapes.append((geom, k + 1, float(cls.get("buffer") or 0.0)))
    return shapes


class JobSegmentation(JobWorkload):
    name = "job-segmentation"
    ml_type = "segmentation"
    imagery = False


class JobImagery(JobWorkload):
    name = "job-imagery"
    ml_type = "classification"
    imagery = True


# --- bucketed-upsert sink ----------------------------------------------------


class SinkUpsert(Workload):
    name = "sink-upsert"
    warmup = SINK_WARMUP

    def setup(self) -> None:
        from label_maker_dask_spark.streaming.bucketed import (
            stream_upsert_to_parquet_bucketed,
        )

        self.log = gen.CdcLog(self.seed)
        self.items_per_op = self.log.batch_rows
        self.src = os.path.join(self.work, "cdc")
        self.stage = os.path.join(self.work, "stage")
        self.table = os.path.join(self.work, "table")
        os.makedirs(self.src)
        os.makedirs(self.stage)
        self._batches = self.log.batches()
        self._file_no = 0
        self._publish(self._stage_file(self.log.snapshot()))
        source = (
            self.spark.readStream.schema(gen.CDC_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.src)
        )
        self.query = stream_upsert_to_parquet_bucketed(
            source,
            self.table,
            os.path.join(self.work, "checkpoint"),
            keys=["k"],
            seq_col="seq",
            n_buckets=SINK_BUCKETS,
            delete_col="deleted",
            available_now=False,
        )
        self.query.processAllAvailable()
        self.batch_id = 0
        self.jvm = harness.jvm_pid(self.spark)
        self.progress: List[dict] = []  # StreamingQueryProgress.durationMs

    def _stage_file(self, table) -> str:
        path = os.path.join(self.stage, f"{self._file_no:06d}.parquet")
        self._file_no += 1
        pq.write_table(table, path)
        return path

    def _publish(self, staged: str) -> None:
        os.rename(staged, os.path.join(self.src, os.path.basename(staged)))

    def op(self, i: int, staged: Optional[str] = None) -> float:
        if staged is None:
            staged = self._stage_file(next(self._batches))
        log_bytes = os.path.getsize(staged)
        wchar0 = harness.proc_io(self.jvm) if self.tracer.enabled else 0
        t0 = time.perf_counter()
        self._publish(staged)
        self.query.processAllAvailable()
        dt = time.perf_counter() - t0
        self.batch_id += 1
        p = self.query.lastProgress or {}
        if self.tracer.enabled:
            wchar = harness.proc_io(self.jvm) - wchar0
            self.samples["write_amp"].append(wchar / log_bytes)
            self.progress.append(p.get("durationMs", {}))
        if self.query.exception() is not None:
            self.fail(i, f"stream failed: {self.query.exception()}")
        elif p.get("batchId") != self.batch_id:
            self.fail(i, f"batch {p.get('batchId')} committed, expected {self.batch_id}")
        return dt

    def group_op(self, i: int) -> float:
        """An op with the Spark jobs of its micro-batch counted (the
        stream tags its jobs with the query's run id as job group)."""
        tracker = self.spark.sparkContext.statusTracker()
        group = str(self.query.runId)
        before = set(tracker.getJobIdsForGroup(group))
        dt = self.op(i)
        jobs = set(tracker.getJobIdsForGroup(group)) - before
        self.samples["jobs"].append(len(jobs))
        return dt

    def traced_op(self, i: int) -> float:
        """Times the sink's compaction and merge on this batch (each run
        on its own against the current table), then commits the batch."""
        from label_maker_dask_spark.operators.merge import merge_upsert
        from label_maker_dask_spark.streaming.bucketed import read_maintained_table
        from label_maker_dask_spark.streaming.upsert import compact_last_per_key

        staged = self._stage_file(next(self._batches))
        t0 = time.perf_counter()
        with self.tracer.span("sink.probe", op=i):
            batch = self.spark.read.schema(gen.CDC_DDL).parquet(staged)
            with self.tracer.span("streaming.upsert.compact"):
                compacted, _ = _materialize(
                    compact_last_per_key(batch, ["k"], "seq").drop("seq")
                )
            with self.tracer.span("operators.merge"):
                merge_upsert(
                    read_maintained_table(self.spark, self.table),
                    compacted,
                    keys=["k"],
                    delete_col="deleted",
                    broadcast_source=True,
                    assume_unique_source=True,
                ).write.format("noop").mode("overwrite").save()
            compacted.unpersist()
        with self.tracer.span("streaming.batch", op=i):
            self.op(i, staged)
        return time.perf_counter() - t0

    def finish(self) -> None:
        """Stop the query and compare the table, read straight from its
        parquet files, with a pandas replay of every change published."""
        self.query.stop()
        got = (
            pq.read_table(self.table, columns=["k", "v", "tag"])
            .to_pandas()
            .sort_values("k")
            .reset_index(drop=True)
        )
        live = self.log.live
        want = pd.DataFrame(
            {
                "k": np.fromiter(live.keys(), dtype=np.int64, count=len(live)),
                "v": [v for v, _ in live.values()],
                "tag": [t for _, t in live.values()],
            }
        ).sort_values("k").reset_index(drop=True)
        self.live_rows = len(want)
        if list(got.columns) != ["k", "v", "tag"] or not got.equals(want):
            self.fail(None, "final table differs from the pandas replay")

    def out_bytes_per_item(self) -> float:
        """Maintained-table parquet bytes per live row."""
        return harness.dir_bytes(self.table, ".parquet") / self.live_rows

    def per_layer(self) -> Dict[str, float]:
        st = self.tracer.self_time
        med = statistics.median

        def p50(*phases: str) -> float:
            return med(sum(d.get(k, 0) for k in phases) / 1e3 for d in self.progress)

        return {
            "streaming.add_batch_s.p50": p50("addBatch"),
            "streaming.wal_commit_s.p50": p50("walCommit"),
            "streaming.source_s.p50": p50("latestOffset", "getBatch"),
            "streaming.query_planning_s.p50": p50("queryPlanning"),
            "streaming.spark_jobs_per_batch": med(self.samples["jobs"]),
            "operators.merge.s": med(st("operators.merge")),
            "streaming.upsert.compact_s": med(st("streaming.upsert.compact")),
            "streaming.write_amp": med(self.samples["write_amp"]),
            "streaming.table_files": harness.count_files(self.table, ".parquet"),
        }


WORKLOADS = {w.name: w for w in (JobSegmentation, JobImagery, SinkUpsert)}
