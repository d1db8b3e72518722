"""Streaming WARC ingest: drain archive files as they land, append
their CDX rows (and optionally their extracted pages) exactly once.

The batch CLI (``spark_jobs/warc_job.py``) ingests one drop per
invocation; a crawler's landing zone fills continuously, so this twin
keeps the index ALIVE: each micro-batch of (file_id, warc) rows is
framing-walked once (`sources/warc.parse_warc_records` — map-only
fold), its CDX lookup rows append, and with ``extract=True`` every
intact response's HTTP payload runs the DOM extractor into the pages
table.  No maintained lattice is needed — records are per-file facts —
so the only cross-batch obligation is exactly-once append, served the
usual way: cdx + pages + lineage publish in ONE atomic catalog commit
and replays are skipped by (stream_id, batch_id) with the UUID-marker
checkpoint-lifecycle identity (``streaming/identity.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog
from mistral_ocr_pipeline_spark.sources.warc import (
    cdx_index,
    parse_warc_records,
    warc_pages,
)
from mistral_ocr_pipeline_spark.streaming.identity import stream_identity


def run_warc_ingest(
    spark: SparkSession,
    input_dir: str,
    schema,
    catalog: TableCatalog,
    checkpoint_dir: str,
    id_col: str = "file_id",
    warc_col: str = "warc",
    max_records: int = 4096,
    extract: bool = False,
    cdx_table: str = "cdx",
    pages_table: str = "pages",
    lineage_table: str = "warc_lineage",
) -> None:
    """Drain available WARC-file batches; append CDX (and pages, with
    ``extract=True``) exactly once per (stream, batch)."""
    stream_id = stream_identity(checkpoint_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if catalog.exists(lineage_table):
            seen = catalog.read(lineage_table).filter(
                (F.col("batch_id") == batch_id)
                & (F.col("stream_id") == stream_id)
            )
            if seen.limit(1).count():
                return
        recs = parse_warc_records(
            batch_df, id_col, warc_col, max_records, keep_body=extract
        )
        if extract:
            recs = recs.localCheckpoint(eager=True)  # parse once, feed twice
        lineage = spark.createDataFrame(
            [(stream_id, int(batch_id))], "stream_id string, batch_id long"
        )
        staged = {
            cdx_table: catalog.stage_append(cdx_index(recs), cdx_table),
            lineage_table: catalog.stage_append(lineage, lineage_table),
        }
        if extract:
            staged[pages_table] = catalog.stage_append(
                warc_pages(recs), pages_table
            )
        catalog.commit(staged)

    q = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("path", input_dir)
        .load()
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
