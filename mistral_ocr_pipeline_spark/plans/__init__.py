from mistral_ocr_pipeline_spark.plans.extract_pipeline import (  # noqa: F401
    EXTRACT_OUTPUT_SCHEMA,
    assemble_conversations,
    extract_transcripts,
    with_stable_order,
)
