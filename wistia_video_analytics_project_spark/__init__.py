"""wistia_video_analytics_project_spark — a PySpark-native analytics engine.

A brand-new, idiomatic Spark re-expression of the capabilities of the
reference pipeline (SameerDataEngineer01/Wistia-Video-Analytics-project):
event-log ingestion, JSON normalization, star-schema modeling (2 dims +
1 fact), data-quality operators (null audit, PK repair, keep-first dedup,
uniqueness assertions), incremental watermarking, and the gold aggregate
analytics layer — plus large-scale training-data-pipeline extensions
(deduplication, similarity search, text analysis, multimodal columns)
designed for a 100 TB / 1000-executor posture.

Layout (see SURVEY.md §7.1):

- ``session``    — SparkSession construction with scale-aware defaults
- ``schemas``    — explicit StructTypes for every table (no silent inference)
- ``sources``    — schema-enforced parquet reader, incremental bronze JSON
  reads, REST ingester, watermark
- ``sinks``      — parquet (partitioned)
- ``operators``  — named, tested DataFrame -> DataFrame operators:
  ``conform`` (projections/casts/scalar funcs), ``model`` (dim/fact
  builders), ``quality`` (Q1-Q5), ``analytics`` (gold queries, windows,
  joins, top-k), ``dedup``/``similarity``/``text``/``multimodal``
  (LLM-pipeline extensions)
- ``pipeline``   — the orchestrated DAG (bronze -> silver -> gold)
- ``streaming``  — Structured Streaming tier over the same event schema

Top-level defs need a caller outside the tests; see
``tests/test_reachability.py``.
"""

__version__ = "0.1.0"
