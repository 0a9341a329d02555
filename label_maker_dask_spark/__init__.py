"""label_maker_dask_spark — a PySpark-native engine with the query and
data-processing capabilities of developmentseed/label-maker-dask.

The reference (read-only at /root/reference/) turns OSM QA vector tiles +
satellite imagery into per-tile (image, label) ML training pairs via a Dask
delayed graph (reference main.py:20-63).  This package re-expresses that
pipeline — plus a large-scale relational / streaming / LLM-data-pipeline
surface — as lazy Spark DataFrame plans:

- tiles.py      : distributed slippy-map tile source (reference main.py:89)
- filters.py    : Mapbox GL filter -> Catalyst Column compiler (reference filter.py)
- labels.py     : classification / object-detection / segmentation labels
                  (reference label.py)
- job.py        : LabelMakerJob facade (reference main.py:66-111)
- sources/      : vector-tile + imagery connectors (reference main.py:20-47,
                  utils.py:43-127), hermetic fakes for testing
- operators/    : dedup, similarity search, text analysis, top-k (engine
                  extensions, SURVEY.md Part B)
- streaming/    : Structured Streaming windows / watermark ops
- functions/    : scalar expression library (pixel math, text, vectors)

Everything that can be a built-in Catalyst expression is; pandas UDFs are
reserved for genuinely imperative per-tile or per-group work (the job's one
tile scan, which fetches, labels and reads imagery per tile;
rasterization; image decode).
"""

from label_maker_dask_spark.filters import compile_filter
from label_maker_dask_spark.job import LabelMakerJob
from label_maker_dask_spark.results import class_match, wrap_results
from label_maker_dask_spark.tiles import tiles_df

__version__ = "0.1.0"

__all__ = [
    "compile_filter",
    "LabelMakerJob",
    "tiles_df",
    "class_match",
    "wrap_results",
    "__version__",
]
