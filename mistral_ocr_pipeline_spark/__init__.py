"""mistral_ocr_pipeline_spark — a from-scratch PySpark-native extraction engine.

Re-expresses the capabilities of the reference pipeline
(pouriamrt/mistral-ocr-pipeline, surveyed in SURVEY.md) as an idiomatic
Spark DataFrame engine:

* ``extractors/``  — pure-Python, Spark-free batch extractors (HTML
  boilerplate strip, PDF layout analysis, markdown assembly).  These are
  the single code path shared by the Spark UDFs and the golden oracle,
  so byte-equality between engine and oracle is by construction.
* ``plans/``       — the Spark jobs (per-turn repartition → mapInArrow →
  ordering window → sink) that run the extractors at scale.
* ``operators/``   — relational/dataflow operators from SURVEY.md §2
  (ordered group-merge, first-non-empty coalesce, stable list dedup,
  anti-join resume, fuzzy best-match join, dedup family, ANN search,
  text analysis, multimodal plumbing).
* ``sources/``     — table catalog shim (Parquet-backed; Iceberg-shaped
  API) and the deterministic transcripts fixture generator.
* ``checkpoint/``  — per-partition lineage + resume (isin filter) protocol.
* ``streaming/``   — incremental (AvailableNow-style) extraction runner.

Importing the package installs ``_zipcache``: a Python worker imports it
when it unpickles any of the package's UDFs, and from then on its tasks
skip re-reading unchanged zip archives on import-cache invalidation.
"""

from mistral_ocr_pipeline_spark import _zipcache  # noqa: F401

__version__ = "0.1.0"
