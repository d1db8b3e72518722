"""Pure-Python, Spark-free extractors.

These modules operate on plain Python values / lists and are imported both
by the Spark ``mapInArrow`` stage (plans/extract_pipeline.py) and by the
golden-oracle test harness — one code path, so byte-equality between the
engine output and the oracle holds by construction (SURVEY.md §7.4.1).
"""

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn  # noqa: F401
