"""Runnable end-to-end tour of the engine — hermetic (no network, no
optional deps), finishes in ~1 minute on a laptop.

    PYTHONPATH=/path/to/repo python examples/quickstart.py [testdata_dir]

Part 1 is the reference-parity pipeline (label-maker-dask's
`LabelMakerJob`, re-expressed as one lazy Spark plan) over deterministic
fake tile/imagery sources.  Part 2 is a training-data curation pass over
the driver-style parquet tables: near-dup pruning, quality gating, a
deterministic split, and semantic clustering.
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("lmds-quickstart")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # ---- Part 1: the reference pipeline, Spark-first --------------------
    from label_maker_dask_spark import LabelMakerJob
    from label_maker_dask_spark.sources.fake import (
        fake_features,
        fake_image_bytes,
    )

    job = LabelMakerJob(
        spark,
        zoom=15,
        bounds=[-9.179, 38.708, -9.1195, 38.754],  # Lisbon, the README bbox
        classes=[
            {"name": "Roads", "filter": ["has", "highway"]},
            {"name": "Buildings", "filter": ["has", "building"]},
        ],
        imagery="https://example.test/{z}/{x}/{y}.png",
        label_source="https://example.test/{z}/{x}/{y}.pbf",
        ml_type="classification",
        tile_fetcher=fake_features,
        image_fetcher=fake_image_bytes,
    )
    print(f"tiles at z15 over Lisbon: {job.n_tiles()}")
    job.build_job()
    job.execute_job()
    sample = job.results[0]
    print(
        f"first result tile=({sample.z},{sample.x},{sample.y}) "
        f"label={list(sample.label)}"
    )

    # ---- Part 2: dataset curation over the parquet tables ---------------
    from label_maker_dask_spark.functions.text import quality_score
    from label_maker_dask_spark.operators.clustering import spherical_kmeans
    from label_maker_dask_spark.operators.dedup import minhash_neardup_pairs
    from label_maker_dask_spark.operators.pipeline import split_bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_neardup_pairs(docs, k=16, bands=4, threshold=0.12)
    n_neardup = pairs.count()
    survivors = (
        docs.where(quality_score(F.col("text")) >= 0.6)
        .withColumn("split", split_bucket(F.col("doc_id")))
    )
    split_counts = (
        survivors.groupBy((F.col("split") < 80).alias("is_train"))
        .count()
        .collect()
    )
    print(f"near-dup candidate pairs: {n_neardup}")
    print(f"quality-gated split: {[(r.is_train, r['count']) for r in split_counts]}")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clusters = spherical_kmeans(emb, k=4, iters=1)
    sizes = sorted(
        (r.cluster, r["count"])
        for r in clusters.groupBy("cluster").count().collect()
    )
    print(f"semantic cluster sizes (k=4): {sizes}")

    # ---- Part 3: stream analytics over the events table ------------------
    from label_maker_dask_spark.queries_graph_ext import (
        graph_pagerank_transitions,
        anomaly_zscore_daily_events,
    )

    ranks = sorted(
        (r.event_type, r.pagerank)
        for r in graph_pagerank_transitions(spark, sf_dir).collect()
    )
    print(f"event-type PageRank (transition graph): {ranks}")
    n_anom = (
        anomaly_zscore_daily_events(spark, sf_dir)
        .where(F.col("is_anomaly") == 1)
        .count()
    )
    print(f"daily-volume anomalies (|z| > 2 vs trailing week): {n_anom}")

    # ---- Part 4: continuously-maintained table with time travel ----------
    # Each micro-batch publishes a new table VERSION at O(delta) cost:
    # only delta-touched key buckets get new files, the manifest carries
    # the rest forward by reference — pinned reads + O(1) rollback.
    import tempfile
    import time as _time

    from label_maker_dask_spark.streaming.versioned import (
        latest_table_version,
        read_table_version,
        rollback_table,
        stream_accumulate_to_versioned_table,
    )

    tmp = tempfile.mkdtemp(prefix="lmds_quickstart_")
    deltas, table, ckpt = f"{tmp}/deltas", f"{tmp}/daily", f"{tmp}/ckpt"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    half = ev.agg(F.expr("percentile(event_id, 0.5)").alias("c")).collect()[0].c
    for batch in (ev.where(F.col("event_id") <= half),
                  ev.where(F.col("event_id") > half)):
        batch.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        ).coalesce(1).write.mode("append").parquet(deltas)
        _time.sleep(1.1)
    q = stream_accumulate_to_versioned_table(
        spark.readStream.schema("event_type string, n long")
        .option("maxFilesPerTrigger", 1)
        .parquet(deltas),
        table, ckpt, keys=["event_type"], sum_cols=["n"], n_buckets=4,
    )
    q.awaitTermination(120)
    v = latest_table_version(table)
    now = read_table_version(spark, table).agg(F.sum("n")).collect()[0][0]
    rollback_table(table, 1)
    before = read_table_version(spark, table).agg(F.sum("n")).collect()[0][0]
    print(
        f"versioned event-count table: v{v} holds {now} events; "
        f"rolled back to v1 it holds {before} — history intact"
    )

    # ---- Part 5 (round 8): image near-dup + exact heavy hitters ----------
    # pHash signatures + the pigeonhole-exact banded hamming join find
    # perceptual duplicates (brightness-shifted variants collide at
    # hamming ~0); heavy hitters come back EXACT at a sketch's shuffle
    # cost (per-chunk Misra-Gries candidates + one verify pass).
    import label_maker_dask_spark.queries as Q

    pairs = Q.QUERIES["multimodal_phash_neardup_pairs"](spark, sf_dir)
    print(f"image near-dup pairs (pHash + banded hamming): {pairs.count()}")
    hh = Q.QUERIES["agg_heavy_hitters_users"](spark, sf_dir).collect()
    print(
        "exact heavy-hitter users (> 1/120 of events): "
        f"{sorted((r.item, r.n_rows) for r in hh)}"
    )

    # ---- Part 6 (round 9): mergeable sketches + leakage-safe split -------
    # A count-min sketch built per DAY and merged by plain addition
    # answers any-range frequency queries without rescanning the facts —
    # and because its hashes are deterministic cross-engine arithmetic,
    # the estimates are exactly reproducible (n_cms >= n_exact always).
    cms = Q.QUERIES["agg_cms_daily_merged_user_counts"](spark, sf_dir)
    worst = cms.orderBy(F.desc("overcount")).first()
    n_exact_rows = cms.where(F.col("overcount") == 0).count()
    print(
        f"count-min sketch over users: {n_exact_rows}/{cms.count()} "
        f"estimates exact; worst overcount {worst['overcount']} "
        f"(item {worst['item']}: {worst['n_exact']} -> {worst['n_cms']})"
    )
    # The leakage-safe split hashes each document's NEAR-DUP GROUP, so
    # no duplicate cluster ever straddles train/eval — contamination
    # removed at assignment time instead of detected later.
    split = Q.QUERIES["curation_leakage_safe_split"](spark, sf_dir)
    print(
        "leakage-safe split (near-dup groups never straddle): "
        + ", ".join(
            f"{r['split']}={r['n_docs']} docs/{r['n_groups']} groups"
            for r in sorted(split.collect(), key=lambda r: r["split"])
        )
    )

    # ---- Part 7 (round 9): incremental near-dup index --------------------
    # Ingest documents in two micro-batches; each batch's verified pairs
    # are found against EVERYTHING stored so far (batch-sized band join),
    # and the union equals one-shot minhash_neardup_pairs over the corpus.
    import tempfile

    from label_maker_dask_spark.streaming.neardup import stream_neardup_index

    nd = tempfile.mkdtemp()
    docs2 = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    for half in (
        docs2.where(F.col("doc_id") % 2 == 0),
        docs2.where(F.col("doc_id") % 2 == 1),
    ):
        half.coalesce(1).write.mode("append").parquet(f"{nd}/src")
        stream_neardup_index(
            spark.readStream.schema("doc_id long, text string").parquet(
                f"{nd}/src"
            ),
            f"{nd}/index",
            f"{nd}/pairs",
            f"{nd}/ckpt",
            threshold=0.12,
        ).awaitTermination(180)
    inc_pairs = spark.read.parquet(f"{nd}/pairs")
    cross = inc_pairs.where(
        (F.col("id_a") % 2) != (F.col("id_b") % 2)
    ).count()
    print(
        f"incremental near-dup index: {inc_pairs.count()} pairs over two "
        f"ingests ({cross} crossing the batch boundary) — equal to the "
        "one-shot batch operator"
    )

    # ---- Part 8 (round 13): quantized ANN index lifecycle ----------------
    # Build a product-quantization index (16x-compressed codes at rest),
    # append new vectors under the FROZEN codebooks (they land in the
    # index's delta zone), compact the deltas back into bucket partitions,
    # and query by asymmetric distance — the FAISS-style triad's PQ
    # member, next to the IVF and SQ8 paths.  Both stored indexes (IVF
    # and PQ) keep this one layout: operators/index_layout.py.
    from label_maker_dask_spark.operators.index_layout import compact_index
    from label_maker_dask_spark.operators.similarity import (
        append_pq_index,
        pq_adc_topk_stored,
        write_pq_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pq = tempfile.mkdtemp() + "/pq"
    write_pq_index(emb.where("vec_id % 2 = 0"), pq)
    append_pq_index(emb.where("vec_id % 2 = 1"), pq)
    folded = compact_index(spark, pq)
    ann = pq_adc_topk_stored(spark, pq, emb.where("vec_id % 25 = 0"), k=3)
    print(
        f"PQ index: built on half the corpus, appended the rest "
        f"(codebooks frozen), compacted {folded} delta file(s); "
        f"top-3 ADC neighbors for {ann.select('query_id').distinct().count()} "
        f"queries"
    )

    # ---- Part 9 (round 14): tokenizer training + codec sinks --------------
    # Train a BPE merge list distributively (one corpus pass, then merge
    # rounds over the Zipf-bounded word-type table), apply it per
    # document, and round-trip raster/vector tiles through the engine's
    # own GeoTIFF and MVT writers.
    from label_maker_dask_spark.operators.bpe import bpe_train, doc_word_rows

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges, wl = bpe_train(docs, rounds=8)  # one training run, both artifacts
    first = merges.orderBy("merge_rank").first()
    compression = (
        doc_word_rows(docs)
        .join(wl.select("word", "n_symbols"), "word")
        .agg(
            F.sum("n_symbols").alias("syms"),
            F.count(F.lit(1)).alias("words"),
        )
        .first()
    )
    print(
        f"BPE: first merge {first['left_sym']!r}+{first['right_sym']!r} "
        f"(count {first['pair_count']}); corpus tokenizes to "
        f"{compression['syms']} symbols over {compression['words']} words"
    )

    import numpy as np

    from label_maker_dask_spark.sources import mvt
    from label_maker_dask_spark.sources.mvt_write import encode_mvt
    from label_maker_dask_spark.sources.tiff import TiffFile, read_tile
    from label_maker_dask_spark.sources.tiff_write import write_geotiff

    arr = np.arange(64 * 64 * 3, dtype=np.uint8).reshape(64, 64, 3)
    tif = TiffFile(
        write_geotiff(arr, (-180, -90, 180, 90), tiled=True, compression=8)
    )
    window = read_tile(tif, 4, 7, 5)
    tile = mvt.decode(
        encode_mvt({"osm": [{
            "id": 1,
            "geometry": {"type": "Point", "coordinates": [100, 200]},
            "properties": {"class": "water"},
        }]})
    )
    print(
        f"codec sinks: engine-written COG window {window.shape}, "
        f"engine-written MVT decodes "
        f"{len(tile['osm']['features'])} feature(s)"
    )

    spark.stop()


if __name__ == "__main__":
    main()
