"""env_data_pipeline_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of the Interlinked-Corp/env-data-pipeline reference
(environmental data collection: LANDFIRE / MODIS / weather / USGS
topography), built Spark-first:

- data model: one DataFrame per logical source table (SURVEY.md §1.4),
  nested structs only at the sink;
- operators: declarative DataFrame / SQL plans optimized by Catalyst
  (predicate pushdown, broadcast joins, AQE) — no hand-scheduled
  execution;
- rasters: one row per grid (a nested pixel array) or per pixel, so
  every raster op is relational algebra (SURVEY.md §2.7);
- streaming: Structured Streaming analog of the reference's
  event-trigger path (SURVEY.md §2.9);
- scale extensions: dedup / similarity / text-analysis / multimodal
  operators for 100 TB training-data pipelines (SURVEY.md §2.11).
"""

from env_data_pipeline_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
