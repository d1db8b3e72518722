"""Cluster entry point — the job the north rule ships as
``spark-submit --py-files mistral_ocr_pipeline_spark.zip spark_jobs/extract_job.py``.

Reads the transcripts table, runs the checkpointed extraction (resumes from
lineage if a previous run was killed), writes output + per-partition
lineage.  All engine code rides in the --py-files archive built by
``python tools/make_pyfiles.py``; only this thin driver file is submitted.

Example (multi-executor cluster):
  spark-submit \\
    --master yarn --deploy-mode cluster \\
    --num-executors 256 --executor-cores 4 --executor-memory 16g \\
    --conf spark.sql.adaptive.enabled=true \\
    --conf spark.sql.shuffle.partitions=2048 \\
    --py-files mistral_ocr_pipeline_spark.zip \\
    spark_jobs/extract_job.py \\
    --input /warehouse/transcripts --warehouse /warehouse/extraction \\
    --run-id run-2026-08-16 --n-buckets 4096
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="transcripts parquet/Iceberg path")
    p.add_argument("--warehouse", required=True, help="output warehouse dir")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--n-buckets", type=int, default=256,
                   help="conv_id bucket count (resume/commit granularity)")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="partitions of the per-turn shuffle, which runs only "
                        "when the input has fewer partitions than the "
                        "cluster's parallelism (default: "
                        "spark.sql.shuffle.partitions)")
    args = p.parse_args()

    # the job runs on Spark's defaults plus the confs spark-submit passes;
    # the builder sets only the app name
    spark = SparkSession.builder.appName("transcript_extraction").getOrCreate()

    from mistral_ocr_pipeline_spark.checkpoint.lineage import run_extraction
    from mistral_ocr_pipeline_spark.sources.catalog import TableCatalog

    catalog = TableCatalog(spark, args.warehouse)
    input_df = spark.read.parquet(args.input)
    summary = run_extraction(
        spark,
        catalog,
        input_df,
        run_id=args.run_id,
        n_buckets=args.n_buckets,
        num_partitions=args.num_partitions,
    )
    print(summary)
    spark.stop()


if __name__ == "__main__":
    main()
