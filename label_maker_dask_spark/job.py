"""LabelMakerJob — the reference's one entry point (main.py:66-111), rebuilt
as a lazy Spark plan builder.

Reference three-call protocol -> Spark mapping (SURVEY.md section 3):

- ``build_job()``   : constructed the Dask delayed graph eagerly on the driver
                      (main.py:87-99).  Here it assembles one lazy DataFrame
                      plan — tile generator -> labels -> image scan -> 1:1
                      pairing — and returns it.  ``explain()`` replaces
                      ``dask.visualize``.  Classification and detection
                      labels are JVM aggregates over the feature scan
                      (one shuffle on the tile key, left-joined back onto
                      the tiles); segmentation labels are one
                      ``mapInPandas`` over the tiles that fetches and burns
                      each tile in one task (``MapInPandas`` over
                      ``Range``, no exchange, no join).
- ``n_tiles()``     : len of the driver-side tile list (main.py:101-107).
                      Here: exact arithmetic, no scan, no driver list.
- ``execute_job()`` : ``dask.compute`` gathering all results into client RAM
                      (main.py:109-111) — the reference's scalability cliff.
                      Here: ``execute(path=…)`` writes distributed parquet;
                      ``execute()`` with no path collects (small jobs only,
                      kept for reference parity).

The label⋈image pairing (reference main.py:50-63) is an equi-join on the
tile key.  Both sides derive from the same generated ``tiles`` frame and
carry one row per tile; at cluster scale AQE picks the strategy and either
side can be broadcast when small.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from label_maker_dask_spark import labels as L
from label_maker_dask_spark import tiles as T
from label_maker_dask_spark.sources.imagery import fetch_images
from label_maker_dask_spark.sources.vector_tiles import (
    fetch_features,
    tile_fetcher_factory,
)

ML_TYPES = ("classification", "object-detection", "segmentation")


class LabelMakerJob:
    """Parameter-object "query" (reference main.py:69-85) + plan builder."""

    def __init__(
        self,
        spark: SparkSession,
        zoom: int,
        bounds: Sequence[float],
        classes: List[Dict[str, Any]],
        imagery: Optional[str] = None,
        label_source: Optional[str] = None,
        ml_type: str = "classification",
        tile_fetcher: Optional[Callable] = None,
        image_fetcher: Optional[Callable] = None,
    ):
        if ml_type not in ML_TYPES:
            raise ValueError(f"ml_type must be one of {ML_TYPES}, got {ml_type!r}")
        tile_fetcher_factory(label_source, tile_fetcher)  # fail fast
        self.spark = spark
        self.zoom = zoom
        self.bounds = list(bounds)
        self.classes = classes
        self.imagery = imagery
        self.label_source = label_source
        self.ml_type = ml_type
        self.tile_fetcher = tile_fetcher
        self.image_fetcher = image_fetcher
        self.plan: Optional[DataFrame] = None
        self.results = None
        self.metrics: Optional[Dict[str, Any]] = None

    # -- plan construction ----------------------------------------------------

    def tiles(self) -> DataFrame:
        return T.tiles_df(self.spark, self.bounds, self.zoom)

    def features(self) -> DataFrame:
        return fetch_features(
            self.tiles(),
            label_source=self.label_source,
            tile_fetcher=self.tile_fetcher,
        )

    def labels(self) -> DataFrame:
        if self.ml_type == "segmentation":
            # fetch and burn in one narrow pass over the tiles
            return L.segmentation_tile_labels(
                self.tiles(),
                self.classes,
                label_source=self.label_source,
                tile_fetcher=self.tile_fetcher,
            )
        tiles, feats = self.tiles(), self.features()
        if self.ml_type == "classification":
            return L.classification_labels(feats, self.classes, tiles=tiles)
        return L.detection_labels(feats, self.classes, tiles=tiles)

    def images(self) -> DataFrame:
        return fetch_images(
            self.tiles(), imagery=self.imagery, image_fetcher=self.image_fetcher
        )

    def build_job(self) -> DataFrame:
        """Assemble the full lazy plan: labels ⋈ images on the tile key."""
        plan = self.labels()
        if self.imagery is not None or self.image_fetcher is not None:
            plan = plan.join(self.images(), ["z", "x", "y"])
        self.plan = plan
        return plan

    def explain(self, mode: str = "formatted") -> None:
        """Plan display — the analogue of ``dask.visualize`` (main.py:98-99)."""
        if self.plan is None:
            self.build_job()
        self.plan.explain(mode)

    def n_tiles(self) -> int:
        """Exact tile count from arithmetic (contrast main.py:101-107, which
        needs ``build_job`` to have materialized a list first)."""
        return T.n_tiles(self.bounds, self.zoom)

    # -- execution ------------------------------------------------------------

    def execute_job(self, path: Optional[str] = None, mode: str = "overwrite"):
        """Run the plan.  With ``path``: distributed parquet write (the scale
        path).  Without: collect to the driver (reference-parity convenience
        for small jobs; the reference always gathered, main.py:111).

        Either way, the run records row-level metrics via ``observe``
        (Spark's accumulator-backed observation API — collected DURING
        the action, no second scan): ``self.metrics`` holds
        ``rows_written`` plus, when an imagery column exists,
        ``tiles_with_image`` — the at-a-glance check that a fetcher
        didn't silently return empties for half the job."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        if self.plan is None:
            self.build_job()
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows_written")]
        if "image" in self.plan.columns:
            metrics.append(
                F.count(F.col("image")).alias("tiles_with_image")
            )
        observed = self.plan.observe(obs, *metrics)
        if path is not None:
            observed.write.mode(mode).parquet(path)
            self.metrics = obs.get
            return None
        self.results = observed.collect()
        self.metrics = obs.get
        return self.results
