"""LabelMakerJob — the reference's one entry point (main.py:66-111), rebuilt
as a lazy Spark plan builder.

Reference three-call protocol -> Spark mapping (SURVEY.md section 3):

- ``build_job()``   : constructed the Dask delayed graph eagerly on the driver
                      (main.py:87-99).  Here it assembles one lazy DataFrame
                      plan and returns it: one ``mapInPandas`` over the
                      generated tiles (``labels.tile_labels``) that, per
                      tile and in one task, fetches the features, computes
                      the label and, when the job has imagery, fetches the
                      image — the reference's one task pair per tile
                      (main.py:20-63).  For every ml_type the plan is
                      ``MapInPandas`` over ``Range``: no exchange, no join,
                      no broadcast.  ``explain()`` replaces
                      ``dask.visualize``.
- ``n_tiles()``     : len of the driver-side tile list (main.py:101-107).
                      Here: exact arithmetic, no scan, no driver list.
- ``execute_job()`` : ``dask.compute`` gathering all results into client RAM
                      (main.py:109-111) — the reference's scalability cliff.
                      Here: ``execute(path=…)`` writes distributed parquet;
                      ``execute()`` with no path collects (small jobs only,
                      kept for reference parity).

The label⋈image pairing (reference main.py:50-63) needs no join: the
label and the image of a tile are computed in the same task and leave it
as one row.  ``labels()`` is the same scan without images; ``features()``
and ``images()`` expose the feature and image scans on their own.
"""

from __future__ import annotations

from typing import Any, Callable, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from label_maker_dask_spark import labels as L
from label_maker_dask_spark import tiles as T
from label_maker_dask_spark.sources.imagery import (
    fetch_images,
    image_fetcher_factory,
)
from label_maker_dask_spark.sources.vector_tiles import (
    fetch_features,
    tile_fetcher_factory,
)

ML_TYPES = tuple(L.LABEL_TYPES)


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
        # fail fast: a missing label source or an unsupported WMS CRS
        # raises here, not in a task
        tile_fetcher_factory(label_source, tile_fetcher)
        self._image_factory()

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
        """``(z, x, y, label)``: the job's tile scan without images."""
        return self._tile_scan(with_images=False)

    def images(self) -> DataFrame:
        return fetch_images(
            self.tiles(), imagery=self.imagery, image_fetcher=self.image_fetcher
        )

    def build_job(self) -> DataFrame:
        """Assemble the full lazy plan: one tile scan yielding
        ``(z, x, y, label[, image])``, with the image column when the job
        has imagery."""
        self.plan = self._tile_scan(with_images=True)
        return self.plan

    def _image_factory(self) -> Optional[Callable]:
        """The image fetcher constructor, or None for a job without
        imagery."""
        if self.imagery is None and self.image_fetcher is None:
            return None
        return image_fetcher_factory(self.imagery, self.image_fetcher)

    def _tile_scan(self, with_images: bool) -> DataFrame:
        return L.tile_labels(
            self.tiles(),
            self.ml_type,
            self.classes,
            tile_fetcher_factory(self.label_source, self.tile_fetcher),
            self._image_factory() if with_images else None,
        )

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
