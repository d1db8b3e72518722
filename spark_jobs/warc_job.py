"""Cluster entry point for WARC archive ingest —
``spark-submit --py-files mistral_ocr_pipeline_spark.zip spark_jobs/warc_job.py``.

Each batch of WARC files (parquet of ``file_id, warc`` — files decoded
latin-1 per the `sources/warc.py` byte↔char contract) is walked by the
map-only framing fold; the CDX lookup rows append to the ``cdx`` table
and, with ``--extract``, every intact response's HTTP payload runs
through the mapInArrow DOM extractor and the per-page text/markdown
appends to ``pages``.  CDX, pages, and lineage publish in ONE atomic
catalog commit.

Idempotent per ``--batch-id``: a rerun of an already-recorded batch is
a no-op (the lineage table is the ledger).  The dataflow is the oracled
`warc_parse_records` / `warc_cdx_index` / `warc_html_extract` path;
this CLI is its spark-submit twin.

Example (multi-executor cluster):
  spark-submit \\
    --master yarn --deploy-mode cluster \\
    --num-executors 128 --executor-cores 4 \\
    --py-files mistral_ocr_pipeline_spark.zip \\
    spark_jobs/warc_job.py \\
    --input /landing/warc/2026-08-21 --warehouse /warehouse/crawl \\
    --batch-id 2026-08-21 --extract
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="batch parquet of (file_id, warc)")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--batch-id", required=True,
                   help="idempotency key; one ingest per batch")
    p.add_argument("--id-col", default="file_id")
    p.add_argument("--warc-col", default="warc")
    p.add_argument("--max-records", type=int, default=4096)
    p.add_argument("--extract", action="store_true",
                   help="also run the DOM extractor over response payloads")
    args = p.parse_args()

    spark = SparkSession.builder.appName("warc_ingest").getOrCreate()

    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog
    from mistral_ocr_pipeline_spark.sources.warc import (
        cdx_index,
        parse_warc_records,
        warc_pages,
    )

    catalog = TableCatalog(spark, args.warehouse)
    have_lineage = catalog.exists("warc_lineage")
    if have_lineage:
        seen = (
            catalog.read("warc_lineage")
            .filter(F.col("batch_id") == args.batch_id)
            .limit(1)
            .count()
        )
        if seen:
            print({"batch": args.batch_id, "status": "already-recorded",
                   "action": "no-op"})
            return

    batch = spark.read.parquet(args.input)
    recs = parse_warc_records(
        batch, args.id_col, args.warc_col, args.max_records,
        keep_body=args.extract,
    )
    if args.extract:
        recs = recs.localCheckpoint(eager=True)  # parse once, feed twice
    cdx = cdx_index(recs)

    lineage = spark.createDataFrame([(args.batch_id,)], "batch_id string")
    staged = {
        "cdx": catalog.stage_append(cdx, "cdx"),
        "warc_lineage": (
            catalog.stage_append(lineage, "warc_lineage")
            if have_lineage
            else catalog.stage_overwrite(lineage, "warc_lineage")
        ),
    }
    n_pages = 0
    if args.extract:
        pages = warc_pages(recs).localCheckpoint(eager=True)
        n_pages = pages.count()
        staged["pages"] = catalog.stage_append(pages, "pages")
    catalog.commit(staged)
    print({
        "batch": args.batch_id,
        "status": "recorded",
        "cdx_rows": cdx.count(),
        "pages": n_pages,
    })


if __name__ == "__main__":
    main()
