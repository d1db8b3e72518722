"""Incremental extraction as Structured Streaming (Trigger.AvailableNow).

The reference's streaming-shaped behavior (SURVEY.md §2.10) — incremental
one-row-at-a-time appends, resume-after-kill without recompute
(reference main.py:283-295, utils/utils.py:153-206) — maps to Spark as a
file-source stream over the transcripts directory with AvailableNow
semantics: each run drains exactly the files not yet processed (the
streaming checkpoint replaces the CSV resume index), extracts per
micro-batch via the same mapInArrow pipeline, and appends output +
per-batch lineage metrics inside ``foreachBatch``.

Killed run → next run resumes from the checkpoint offsets; already-drained
files are never re-read, the exact analog of the reference's hash-index
skip (utils/utils.py:291-304)."""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from mistral_ocr_pipeline_spark.fixtures.gen import transcripts_schema
from mistral_ocr_pipeline_spark.plans.extract_pipeline import extract_transcripts
from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog
from mistral_ocr_pipeline_spark.streaming.identity import stream_identity


def commit_extracted_batch(
    catalog: TableCatalog,
    extracted,
    run_id: str,
    batch_id: int,
    output_table: str,
    lineage_table: str,
    stream_id: str = "",
) -> bool:
    """Publish one micro-batch's output + metrics in ONE atomic catalog
    commit, idempotently: ``foreachBatch`` is at-least-once (a kill
    between the catalog commit and the streaming offset commit replays
    the batch), so a batch_id already present in the lineage table is
    skipped — replay becomes a no-op and the observable effect is
    exactly-once.  Returns True when the batch was committed.

    ``stream_id`` scopes the idempotence key: Spark guarantees batch_id
    uniqueness only PER CHECKPOINT, so a stream restarted with a fresh
    checkpoint dir against the same warehouse restarts batch ids at 0 —
    keyed on batch_id alone, its genuinely new micro-batches would be
    skipped as replays (data loss).  ``run_incremental_extraction``
    passes the checkpoint dir's identity; callers managing their own
    foreachBatch must pass a value tied to the checkpoint lifecycle."""
    if catalog.exists(lineage_table):
        lineage = catalog.read(lineage_table).filter(
            F.col("batch_id") == batch_id
        )
        if "stream_id" in lineage.columns:
            lineage = lineage.filter(F.col("stream_id") == stream_id)
        if lineage.limit(1).count():
            return False
    extracted = extracted.persist()
    try:
        data_snap = catalog.stage_append(extracted, output_table)
        agg = extracted.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("error").isNotNull().cast("long")).alias("failures"),
        ).first()
        metrics = extracted.sparkSession.createDataFrame(
            [
                (
                    run_id,
                    stream_id,
                    batch_id,
                    int(agg.rows or 0),
                    int(agg.failures or 0),
                )
            ],
            "run_id string, stream_id string, batch_id long, "
            "rows long, failures long",
        )
        metrics_snap = catalog.stage_append(metrics, lineage_table)
        catalog.commit({output_table: data_snap, lineage_table: metrics_snap})
    finally:
        extracted.unpersist()
    return True


def run_incremental_extraction(
    spark: SparkSession,
    input_dir: str,
    catalog: TableCatalog,
    checkpoint_dir: str,
    output_table: str = "extracted_stream",
    lineage_table: str = "stream_batches",
    run_id: str = "stream-0",
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain all currently-available input files, then stop (AvailableNow).

    ``max_files_per_trigger`` bounds micro-batch size (the reference's
    bounded concurrency, main.py:37).  Blocking: returns when the drain
    completes."""
    reader = (
        spark.readStream.schema(transcripts_schema())
        .format("parquet")
        .option("path", input_dir)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.load()

    # batch ids are unique per CHECKPOINT LIFECYCLE, so the idempotence
    # key carries the checkpoint lifecycle's UUID marker — a fresh
    # checkpoint (new batch-id namespace) can never be mistaken for a
    # replay of an old one, including one wiped and recreated at the
    # SAME path (whose restarted batch ids would otherwise be skipped
    # as replays — silent data loss)
    stream_id = stream_identity(checkpoint_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        commit_extracted_batch(
            catalog,
            extract_transcripts(batch_df, repartition=False),
            run_id,
            int(batch_id),
            output_table,
            lineage_table,
            stream_id=stream_id,
        )

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
